package graft

import org.apache.spark.sql.SparkSession

/** The one local session config every main and the test suites share. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with shuffle partitions = cpus, UTC, no UI and WARN
    * logs. UTC matters: the events ts canonicalization
    * (`Tables.canonicalEventTime`) is session-time-zone arithmetic, so an
    * unpinned zone would run a different query than the one Verify
    * checks. Only these keys are set here, so any other `-Dspark.*`
    * system property reaches `SparkConf` as usual.
    */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
