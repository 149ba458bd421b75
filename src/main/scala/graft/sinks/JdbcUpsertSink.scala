package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.BatchRelation
import org.apache.spark.sql.types.StructType

import graft.sources.CdcEnvelope

/** Keyed JDBC upsert sink for `writeStream.foreachBatch` — the Spark-native
  * materialization of the reference's sink leg (Kafka Connect ClickHouse
  * sink + ReplacingMergeTree dedup, reference `setup.sh:63,128-137`): each
  * micro-batch is applied as DELETE-by-key + INSERT inside one transaction
  * per partition, so replaying a batch (at-least-once delivery,
  * `setup.sh:101-103,144-147`) converges to the same state — idempotent
  * upsert, the same effect the reference gets from merge-time dedup.
  *
  * Contract: the batch must be key-unique (run
  * [[graft.operators.Upsert.latestByKey]] upstream — the deterministic
  * strengthening of the reference's version-less merge, SURVEY §3.3) and
  * batches are applied in micro-batch order (Structured Streaming
  * guarantees this under checkpointing).
  *
  * Scale: work happens on executors, in one write job of
  * `BatchRelation.foreachPartition` (the `Dataset` method's closures cost
  * the driver a class parse each per batch) — one connection + two
  * prepared statements per partition, JDBC batch API, nothing on the
  * driver. One transaction per partition of the batch: the shuffle
  * partitions of an upstream key dedup as AQE coalesced them (a small
  * batch's shuffle coalesces to one), or one when the batch arrives as one
  * partition (then [[graft.operators.Upsert.latestByKey]] plans no
  * shuffle).
  */
object JdbcUpsertSink {

  /** Build a foreachBatch function writing to `table` keyed by `keyCols`.
    * Statement text comes from the [[SinkDialect]] seam: the default ANSI
    * dialect renders the DELETE-by-key + INSERT transaction (Derby and
    * any transactional RDBMS); [[ClickHouseDialect]] renders INSERT-only
    * (ReplacingMergeTree dedups at merge time — reference `setup.sh:63`),
    * in which case the delete leg simply never exists in the prepared
    * statement set. Executor mechanics are dialect-independent.
    */
  def upsertBatch(url: String, table: String, keyCols: Seq[String],
                  dialect: SinkDialect = AnsiDeleteInsertDialect)
      : (DataFrame, Long) => Unit = (batch, _) => {
    val cols = batch.schema.fieldNames.toSeq
    require(keyCols.forall(cols.contains), s"key $keyCols not in $cols")
    val delSql = dialect.deleteByKeySql(table, keyCols)
    val insSql = dialect.insertSql(table, cols)
    val keyIdx = keyCols.map(cols.indexOf)
    BatchRelation.foreachPartition(batch) { rows =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val del = delSql.map(conn.prepareStatement)
          val ins = conn.prepareStatement(insSql)
          rows.foreach { r =>
            del.foreach { d =>
              keyIdx.zipWithIndex.foreach { case (k, i) => d.setObject(i + 1, r.get(k)) }
              d.addBatch()
            }
            cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
            ins.addBatch()
          }
          del.foreach(_.executeBatch())
          ins.executeBatch()
          conn.commit()
        } catch {
          case t: Throwable => conn.rollback(); throw t
        } finally conn.close()
      }
    }
  }

  /** Bad-record-tolerant CDC apply (reference `errors.tolerance=all` +
    * `errors.log.*`, `setup.sh:145-147`): each micro-batch of raw envelope
    * JSON is split by [[graft.sources.CdcEnvelope.unwrapTolerant]] — decoded
    * rows upsert into `table` keyed by `keyCols`, malformed rows land in
    * `dlqTable (raw VARCHAR, error VARCHAR)` instead of failing the batch.
    *
    * Replay safety: the dead-letter leg reuses the keyed upsert with the raw
    * message itself as the key (unique per batch, see `unwrapTolerant`), so
    * re-delivered batches (at-least-once) converge instead of duplicating
    * quarantine rows — the same idempotence the data leg gets from
    * DELETE-by-key + INSERT.
    *
    * Contract: like [[upsertBatch]], the decoded batch must be key-unique —
    * for multi-change-per-key batches compose
    * [[graft.operators.Upsert.latestByKey]] over the decoded leg instead.
    */
  def tolerantCdcBatch(url: String, table: String, keyCols: Seq[String],
                       dlqTable: String, jsonCol: Column,
                       payload: StructType,
                       microTsCols: Seq[String] = Seq.empty)
      : (DataFrame, Long) => Unit = (batch, id) => {
    val (good, bad) = CdcEnvelope.unwrapTolerant(batch, jsonCol, payload, microTsCols)
    upsertBatch(url, table, keyCols)(good, id)
    upsertBatch(url, dlqTable, Seq("raw"))(bad, id)
  }
}
