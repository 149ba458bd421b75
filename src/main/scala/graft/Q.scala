package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator from SURVEY.md §2: a Spark implementation plus, when the
  * semantics are deterministically SQL-expressible (SURVEY §2.0 rules), a
  * DuckDB oracle query over the same bare table names.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Q {
  /** The `fn` of a [[Q.sql]] cell: registers the corpus tables `text`
    * names, then runs it through `spark.sql`.
    */
  final case class Sql(text: String) extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = {
      Tables.registerNamed(s, d, text)
      s.sql(text)
    }
  }

  /** A query whose single SQL text is valid in BOTH Spark SQL and DuckDB:
    * runs via spark.sql over temp views, and verbatim as the oracle.
    *
    * The rule: a cell whose DataFrame plan equals its oracle's is written
    * as `Q.sql`. When Catalyst optimizes the oracle text to a plan that
    * `sameResult`s the hand-written DataFrame one, with the same join
    * hints and output names and types, the DataFrame copy adds code and
    * tests nothing.
    * `OracleTwinSpec` fails on any cell that breaks the rule.
    */
  def sql(name: String, text: String): Q = Q(name, Sql(text), Some(text))
}
