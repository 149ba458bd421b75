package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide session,
  * so suites don't pay repeated startup).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Smallest corpus — unit/property tests only need shape + semantics. */
  val sf: String = "/root/testdata/sf0.001"
}
