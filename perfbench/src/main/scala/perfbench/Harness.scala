package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, SQLException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Double,
                         trace: Boolean, work: Path, cpus: Int)

/** What a workload hands back: operation counts, the check outcome and
  * named metrics (value, unit).
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(why: String): Unit = errors += why

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(", ")
    s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""errors": [${errors.take(20).map(str).mkString(", ")}], "metrics": {$ms}}"""
  }
}

object Harness {

  /** Spark session configured like the repository's `Bench` and `Verify`
    * mains, with scratch space inside the run directory, the listeners and
    * the task probe attached.
    */
  def startSession(a: RunArgs): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[ProgressListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(ExecProbe)
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set up `reps` times (session start, warm-up, DDL) and keep the last
    * session; `setup_s` is the median. The first set-up also pays JVM
    * class loading, which the median leaves out.
    */
  def timedSetup[S](a: RunArgs, r: Result, reps: Int)(
      body: (SparkSession, Int) => S): (SparkSession, S) = {
    val times = mutable.ArrayBuffer[Double]()
    var last: (SparkSession, S) = null
    (0 until reps).foreach { i =>
      if (last != null) stopSession(last._1)
      val t0 = System.nanoTime()
      val spark = startSession(a)
      val s = body(spark, i)
      times += (System.nanoTime() - t0) / 1e9
      log(f"set-up $i took ${times.last}%.2f s")
      last = (spark, s)
    }
    r.put("setup_s", median(times.toSeq), "s")
    last
  }

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)

  def withLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ExecProbe.LayerKey)
    sc.setLocalProperty(ExecProbe.LayerKey, layer)
    try body finally sc.setLocalProperty(ExecProbe.LayerKey, prev)
  }

  /** Embedded in-memory Derby: no fsync and no disk, so sink timings do
    * not depend on the host's storage.
    */
  def derbyUrl(name: String): String = s"jdbc:derby:memory:$name"

  def createDerby(name: String): Unit =
    DriverManager.getConnection(derbyUrl(name) + ";create=true").close()

  def dropDerby(name: String): Unit =
    try DriverManager.getConnection(derbyUrl(name) + ";drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception

  def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(url: String, sql: String*): Unit = withConn(url) { c =>
    val st = c.createStatement()
    try sql.foreach(st.execute) finally st.close()
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since JVM start of the harness. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Heap the program still holds once a workload is done (session, Derby
    * tables, caches), in MB: full collections leave only live data, so the
    * figure does not depend on how far the collector grew the heap. Spark
    * frees some blocks only after a collection has queued their owners,
    * so collect until the figure stops falling.
    */
  def liveHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var used = collect()
    var rounds = 1
    var next = used
    while ({ Thread.sleep(200L); next = collect(); rounds += 1; next < used && rounds < 6 }) used = next
    math.min(used, next) / 1048576.0
  }

  def mkdirs(p: Path): Path = { Files.createDirectories(p); p }
}
