package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and errors.json
  * naming each query that failed with its message. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev convenience: extra args restrict the dump to the named queries
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    spark.stop()
  }

  /** Write each query's result to `$outDir/<name>` as parquet, and the
    * failed ones, name → message, to `$outDir/errors.json`. NonFatal
    * only: an OOM or linkage error must crash the dump with its own
    * stack trace rather than leave a corrupted JVM writing the rest.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val errors = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }.toMap
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
  }

  private def jsonObject(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
