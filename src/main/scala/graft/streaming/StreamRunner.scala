package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.util.Memo

/** Utilities to run a Structured Streaming pipeline to completion over the
  * finite test corpus and hand back its result as a batch DataFrame.
  *
  * The pattern is the real one used at scale — `readStream` → transforms →
  * `writeStream` with checkpointing — executed with `Trigger.AvailableNow`
  * so the driver's batch-oriented Verify/Bench harness can consume it. The
  * memory sink is test-scale only; the production sink is
  * `foreachBatch` into versioned files ([[StreamingOps.StateChain]]).
  */
object StreamRunner {
  private val counter = new AtomicInteger(0)

  /** Streaming queries run on a child session whose shuffle-partition count
    * — which for a stateful op is the number of state-store instances it
    * creates, checkpoints, and commits EVERY micro-batch — is sized to the
    * harness corpus: 32 state stores over a few thousand rows is per-query
    * setup tax, not parallelism. Partition count never changes streaming
    * results; at real scale this is the knob you RAISE with state size.
    * The child shares the SparkContext; session-level confs the corpus
    * needs (the parquet nanosAsLong flag) are applied by passing the child
    * itself to `Tables.read`. One child per parent session, session-scoped
    * in [[Memo]] (no corpus: the tuning is corpus-independent), so it is
    * dropped with its parent; the child holds no reference back to the
    * parent (only the shared SparkContext), so the entry never pins it.
    *
    * Checkpoint files go through [[LocalCheckpointFileManager]]
    * (`spark.sql.streaming.checkpointFileManagerClass`), which on local
    * disk writes each metadata-log and state-store file with no forked
    * process and no `.crc` sibling; Spark's own checksum file
    * (`spark.sql.streaming.checkpoint.fileChecksum.enabled`) is off too.
    * Every checkpoint these ops create is scratch under `TempDirs` that
    * lives for one drain, so neither checksum guards anything. Both are
    * confs of the child alone: the SparkContext's Hadoop conf and every
    * other session keep Spark's defaults. A deployment with durable
    * checkpoints sets the keys on the parent session, for example
    * `FileContextBasedCheckpointFileManager` (Spark's default manager) and
    * checksums `true`, and the child takes the parent's value: `getAll`
    * lists only explicitly set entries, never defaults.
    */
  private[streaming] def tunedSession(s: SparkSession): SparkSession =
    Memo.session(s, "", "tuned_session") {
      val child = s.newSession()
      val parent = s.conf.get("spark.sql.shuffle.partitions", "8").toInt
      child.conf.set("spark.sql.shuffle.partitions", math.min(8, parent).toString)
      val explicit = s.conf.getAll
      for ((k, v) <- Seq(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
          "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName))
        child.conf.set(k, explicit.getOrElse(k, v))
      child
    }

  /** Stream a corpus parquet table. File streaming needs an explicit schema,
    * so the batch reader supplies it (also triggering the `events`
    * nanosAsLong conf in Tables.read — on the tuned child session, which is
    * the one that reads).
    *
    * A table that is already a DIRECTORY of part-files (Spark-written
    * corpora, e.g. the k× Scale rehearsal) streams directly — that is the
    * production shape. The driver corpus's tables are single parquet
    * FILES, which the file-stream source rejects ("Option 'basePath' must
    * be a directory"), so a file is exposed through a per-JVM temp
    * directory via symlink. The two cases MUST be distinguished: the
    * source lists only the directory's immediate files, so symlinking a
    * directory under another directory used to yield zero discovered
    * files — every streaming op silently saw an empty stream on any
    * multi-file corpus (found by the r11 rehearsal; r7 had misattributed
    * the resulting 0 rows to watermark drops).
    */
  def streamTable(spark: SparkSession, sfDir: String, name: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val child = tunedSession(spark)
    val batch = graft.Tables.read(child, sfDir, name)
    val schema = batch.schema
    val src = java.nio.file.Paths.get(s"$sfDir/$name.parquet")
    // one memoized decision per (sfDir, table) per JVM — the dir contents
    // are immutable, so Bench repetitions reuse it — for BOTH source
    // shapes: when the raw physical schema matches the canonical batch
    // view, stream the raw layout (a directory as-is, a single file via
    // symlink — the file-stream source demands a directory); when it
    // diverges (events `ts` canonicalized to epoch-nanos long), the raw
    // layout cannot be read under the canonical schema in EITHER shape,
    // so materialize the normalized rows once — written directly INTO the
    // temp dir (the source lists only immediate files; `_SUCCESS` is
    // filtered as hidden).
    val dir = Memo.corpus(sfDir, s"stream_source/$name") {
      val rawMatches = child.read.parquet(src.toString).schema == schema
      if (rawMatches && java.nio.file.Files.isDirectory(src)) src
      else {
        val d = graft.util.TempDirs.create(s"graft_stream_src_$name")
        if (rawMatches)
          java.nio.file.Files.createSymbolicLink(d.resolve(s"$name.parquet"), src)
        else
          batch.write.mode("overwrite").parquet(d.toString)
        d
      }
    }
    val reader = child.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir.toString)
  }

  /** Live-Kafka selector: broker address from the session conf
    * `spark.graft.kafka.bootstrap` or the `SPARK_GRAFT_KAFKA_BOOTSTRAP`
    * environment variable; absent (every offline harness run) → `None`,
    * and each caller takes the file-source path byte-identically — the
    * documented offline design. Presence implies an environment that
    * also ships the `spark-sql-kafka` connector jar (not in the offline
    * container), matching the reference's live topology
    * (`docker-compose.yml:87`: one broker; `setup.sh:144`: consume from
    * earliest offsets).
    */
  def kafkaBootstrap(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.kafka.bootstrap") match {
      // a PRESENT conf wins outright: an explicitly empty value is the
      // per-session OFF switch even when the environment names a broker
      case Some(v) => Some(v).filter(_.nonEmpty)
      case None => sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP").filter(_.nonEmpty)
    }

  /** The live leg of [[streamTable]]: `readStream.format("kafka")` from
    * EARLIEST offsets (reference `setup.sh:144` replays the topic from
    * the beginning), one JSON record per message decoded into `schema`'s
    * columns. Delivery is at-least-once — offsets commit via the sink's
    * checkpoint AFTER the micro-batch lands (the reference's producer
    * overrides `acks=all, retries=10, delivery.timeout=60s`,
    * `setup.sh:101-103`, give the same contract on the produce side) —
    * so the downstream must be idempotent: compose with
    * [[graft.sinks.JdbcUpsertSink]]'s keyed upsert or
    * [[graft.operators.Upsert.latestByKey]], exactly as the file path
    * does. Malformed messages surface as null-struct rows for the caller
    * to quarantine ([[graft.sources.CdcEnvelope.unwrapTolerant]] —
    * `errors.tolerance=all`, `setup.sh:145-147`).
    */
  def streamKafkaTopic(spark: SparkSession, bootstrap: String, topic: String,
                       schema: StructType): DataFrame = {
    val child = tunedSession(spark)
    child.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.*"))
  }

  /** [[streamTable]] with the Kafka leg auto-selected: when a broker is
    * configured the table streams from topic `graft.<table>` (the
    * topic-per-table layout the reference's RegexRouter normalizes,
    * `setup.sh:119-122`), else from the corpus files. Both legs emit the
    * same schema, so every downstream transform — and every
    * batch-equivalence spec pinned to the file leg — applies to both.
    */
  def streamTableOrKafka(spark: SparkSession, sfDir: String,
                         name: String): DataFrame =
    kafkaBootstrap(spark) match {
      case Some(b) =>
        streamKafkaTopic(spark, b, s"graft.$name",
          graft.Tables.read(tunedSession(spark), sfDir, name).schema)
      case None => streamTable(spark, sfDir, name)
    }

  /** The broker-less continuous CDC leg (reference `setup.sh:92`
    * snapshot-then-WAL-stream, without a broker): micro-batch
    * incremental reads from any JDBC source by a strictly-increasing
    * `(tsCol, idCol)` watermark cursor — see
    * [[graft.sources.JdbcCursorStreamProvider]] for the full contract
    * (checkpointed offsets, admission control via `maxRowsPerPoll`,
    * AvailableNow drain cap, the overlap-rewind seam for
    * commit-order stragglers). Compose with `Upsert.latestByKey` /
    * `JdbcUpsertSink` exactly like the file and Kafka legs — all three
    * emit plain row batches, so every downstream transform (and every
    * batch-equivalence spec) applies unchanged.
    */
  def streamJdbcCursor(spark: SparkSession, url: String, table: String,
      tsCol: String = "updated_us", idCol: String = "id",
      start: (Long, Long) = (Long.MinValue, Long.MinValue),
      maxRowsPerPoll: Option[Long] = None): DataFrame = {
    val child = tunedSession(spark)
    val reader = child.readStream
      .format(classOf[graft.sources.JdbcCursorStreamProvider].getName)
      .option("url", url).option("dbtable", table)
      .option("tsCol", tsCol).option("idCol", idCol)
      .option("startTs", start._1.toString)
      .option("startId", start._2.toString)
    maxRowsPerPoll.foreach(n => reader.option("maxRowsPerPoll", n.toString))
    reader.load()
  }

  /** Run a streaming DataFrame to completion into an in-memory table and
    * return the (batch) result. `outputMode` is "append" for row streams,
    * "complete" for streaming aggregations.
    */
  def runToTable(streamed: DataFrame, outputMode: String): DataFrame = {
    val spark = streamed.sparkSession
    val qn = s"graft_stream_${counter.incrementAndGet()}"
    val query = streamed.writeStream
      .format("memory")
      .queryName(qn)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.table(qn)
  }
}
