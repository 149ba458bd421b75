package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BatchRelation

/** ReplacingMergeTree-style keyed upsert semantics (SURVEY §2.1).
  *
  * The reference materializes state as "latest row version per key"
  * (`ENGINE = ReplacingMergeTree() ORDER BY user_id`, reference
  * `setup.sh:63,136-137`) with merge-order-dependent tie-breaking; we impose
  * a deterministic total version order (version desc, then tiebreak desc) —
  * a documented strengthening (SURVEY §3.3).
  *
  * Scale note: one shuffle on the key (window partition), no global sort.
  * At 100 TB the key-partitioned window is the canonical Spark dedup plan;
  * AQE handles skewed keys. `row_number` (not `rank`) keeps exactly one row.
  * A micro-batch that arrives as one partition (a one-file batch, the JDBC
  * cursor's one range) sorts in place with no shuffle at all
  * (`BatchRelation.coalesceIfOnePartition`).
  */
object Upsert {

  /** Keep the latest row per key: version desc, tiebreaks desc. Analyzed
    * once per query for micro-batches (`BatchRelation.planOnce`).
    */
  def latestByKey(df: DataFrame, key: Seq[Column], version: Seq[Column]): DataFrame = {
    val Seq(latest) = BatchRelation.planOnce(df, "latestByKey", key, version) { in =>
      val w = Window.partitionBy(key: _*).orderBy(version.map(_.desc): _*)
      Seq(BatchRelation.coalesceIfOnePartition(in).withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn"))
    }
    latest
  }

  /** SCD type-2 validity intervals of a change stream keyed by `user_id`:
    * each row is valid from its own `ts_us` until the key's next change
    * (`lead` over `(ts_us, event_id)`), and the key's last row
    * `is_current`. Returns `user_id, event_id, value, valid_from_us,
    * valid_to_us, is_current`, then the `keep` columns.
    */
  def scd2Intervals(rows: DataFrame, keep: String*): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    rows.withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select((Seq("user_id", "event_id", "value", "valid_from_us", "valid_to_us",
        "is_current") ++ keep).map(col): _*)
  }

  /** Apply a CDC op-log with the reference's delete semantics: tombstones are
    * dropped before they ever reach the sink (`tombstones.on.delete=false` +
    * `drop.tombstones`, reference `setup.sh:94,107`), so state = latest
    * non-delete row per key.
    */
  def applyCdc(opLog: DataFrame, opCol: Column, key: Seq[Column],
               version: Seq[Column]): DataFrame =
    latestByKey(opLog.filter(opCol =!= lit("d")), key, version)

  /** Apply a CDC op-log WITH delete propagation — the semantics the
    * reference demonstrably lacks (its `setup.sh:192-197` probes a delete
    * but never asserts it reached the sink; `drop.tombstones` guarantees
    * it cannot): the key's state is its latest row version, and if that
    * latest op is a delete the key is absent from the sink. Same window
    * (and so the same shuffle, or none) as [[applyCdc]] — the delete filter
    * is applied AFTER picking the latest version, so a delete followed by
    * a re-insert (higher version) correctly resurrects the key.
    */
  def applyCdcWithDeletes(opLog: DataFrame, opCol: Column, key: Seq[Column],
                          version: Seq[Column]): DataFrame =
    latestByKey(opLog, key, version).filter(opCol =!= lit("d"))
}
