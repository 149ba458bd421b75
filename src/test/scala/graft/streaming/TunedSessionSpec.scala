package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, expr, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.util.{ProcessStarts, TempDirs}

/** The tuned streaming session writes its checkpoints through
  * [[LocalCheckpointFileManager]], as a conf of that session alone: a
  * checkpoint write forks no process, every other session and the
  * SparkContext's Hadoop conf keep Spark's defaults, and a checkpoint
  * written by either manager resumes under the other.
  */
class TunedSessionSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(s: SparkSession, dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), castToImpl(s).sessionState.newHadoopConf())

  test("a tuned session's checkpoint write starts no process") {
    // the counter sees a process this JVM starts
    assert(ProcessStarts.count(new ProcessBuilder("true").start().waitFor())._2 == 1)
    // as once any session uses Spark's default manager: from then on Hadoop's
    // raw local file system answers every status with a forked `stat`
    RawLocalFileSystem.useStatIfAvailable()
    val dir = TempDirs.create("ckpt_forks")
    val fm = manager(StreamRunner.tunedSession(spark.newSession()), dir)
    assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass.getName)
    val file = new Path(dir.resolve("offsets").resolve("0").toUri)
    val (_, forks) = ProcessStarts.count {
      fm.mkdirs(file.getParent)
      val out = fm.createAtomic(file, overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8))
      out.close()
    }
    assert(forks == 0)
    assert(fm.list(file.getParent).map(_.getPath.getName).toSeq == Seq("0"))
    val in = fm.open(file)
    try assert(new String(in.readAllBytes(), UTF_8) == "v1") finally in.close()
  }

  test("a stateful query's checkpoint and state store start no process") {
    RawLocalFileSystem.useStatIfAvailable()
    val tuned = StreamRunner.tunedSession(spark.newSession())
    val input = MemoryStream[Long](Encoders.scalaLong, tuned)
    var last = Set.empty[Row]
    val ckpt = TempDirs.create("ckpt_state_forks")
    val (_, forks) = ProcessStarts.count {
      val q = input.toDF().groupBy(expr("value % 3").as("k")).agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("complete").option("checkpointLocation", ckpt.toString)
        .foreachBatch((b: DataFrame, _: Long) => last = b.collect().toSet)
        .start()
      try for (batch <- Seq(1L to 4L, 5L to 9L)) {
        input.addData(batch)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(last == Set(Row(0L, 3L), Row(1L, 3L), Row(2L, 3L)))
    assert(ckpt.resolve("state").toFile.exists)
    assert(forks == 0)
  }

  test("a file the engine's manager overwrites reads again under Spark's default") {
    val dir = TempDirs.create("ckpt_stale_crc")
    val file = new Path(dir.resolve("1.delta").toUri)
    val default = manager(spark.newSession(), dir)
    val tuned = manager(StreamRunner.tunedSession(spark.newSession()), dir)
    def write(fm: CheckpointFileManager, text: String): Unit = {
      val out = fm.createAtomic(file, overwriteIfPossible = true)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    write(default, "first")
    assert(crcFiles(dir).nonEmpty)
    write(tuned, "second, longer")
    assert(crcFiles(dir).isEmpty)
    val in = default.open(file)
    try assert(new String(in.readAllBytes(), UTF_8) == "second, longer") finally in.close()
  }

  test("sibling session and context Hadoop conf keep Spark defaults") {
    val hc = spark.sparkContext.hadoopConfiguration
    val before = hc.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    StreamRunner.tunedSession(spark.newSession())
    val fm = manager(spark.newSession(), TempDirs.create("ckpt_sibling"))
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager], fm.getClass.getName)
    assert(hc.iterator.asScala.map(e => e.getKey -> e.getValue).toMap == before)
  }

  test("a parent's explicit checkpoint confs reach the child") {
    val parent = spark.newSession()
    val own = Map(managerKey -> classOf[FileContextBasedCheckpointFileManager].getName,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true")
    own.foreach { case (k, v) => parent.conf.set(k, v) }
    val child = StreamRunner.tunedSession(parent)
    own.foreach { case (k, v) => assert(child.conf.get(k) == v, k) }
  }

  test("a crash between temp write and rename leaves the log valid") {
    val tuned = castToImpl(StreamRunner.tunedSession(spark.newSession()))
    val dir = TempDirs.create("ckpt_crash").resolve("log")
    val log = new HDFSMetadataLog[String](tuned, dir.toString)
    assert(log.add(0L, "zero"))
    // the temp file of batch 1, written and never renamed
    Files.write(dir.resolve(s".1.${java.util.UUID.randomUUID}.tmp"), "half".getBytes(UTF_8))
    val reopened = new HDFSMetadataLog[String](tuned, dir.toString)
    assert(reopened.getLatest().map(_._1).contains(0L))
    assert(reopened.get(0L).contains("zero"))
    assert(reopened.add(1L, "one"))
    assert(!reopened.add(1L, "again"))
    assert(reopened.get(1L).contains("one"))
  }

  private val HourNs = 3600000000000L
  private val schema = StructType(Seq(StructField("ts", LongType)))

  /** File `i` of the stream: 3 + i events, spread over hours i and i + 1. */
  private def writeFile(src: JPath, i: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until 3 + i).map(j => (i + j % 2) * HourNs + j.toLong).toDF("ts")
    val tmp = src.resolveSibling(s"tmp_$i")
    rows.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.toFile.list().find(_.endsWith(".parquet")).get
    Files.move(tmp.resolve(part), src.resolve(f"part-$i%02d.parquet"))
    rows
  }

  /** The `stream_tumbling_count` shape, one file a batch, until the source
    * is drained; returns the last complete-mode result.
    */
  private def hourlyCounts(parent: SparkSession, src: JPath, ckpt: JPath): Set[Row] = {
    var last = Set.empty[Row]
    val q = StreamRunner.tunedSession(parent).readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
      .groupBy(expr(s"ts div $HourNs").as("bucket")).agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete").option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => last = b.collect().toSet)
      .start()
    q.awaitTermination()
    last
  }

  private def crcFiles(dir: JPath): Seq[JPath] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".crc")).toSeq
    finally walk.close()
  }

  // a stateful query's checkpoint written by either manager resumes under
  // the engine's manager
  for ((first, defaultFirst) <- Seq("Spark's default manager" -> true, "the engine's manager" -> false))
    test(s"a stateful checkpoint of $first resumes") {
      val base = TempDirs.create("ckpt_compat")
      val (src, ckpt) = (base.resolve("src"), base.resolve("ckpt"))
      Files.createDirectories(src)
      val firstParent = spark.newSession()
      if (defaultFirst)
        firstParent.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
      val written = Seq(writeFile(src, 0), writeFile(src, 1))
      hourlyCounts(firstParent, src, ckpt)
      assert(crcFiles(ckpt).nonEmpty == defaultFirst)
      val all = written :+ writeFile(src, 2)
      val resumed = hourlyCounts(spark.newSession(), src, ckpt)
      val batch = all.reduce(_ union _).groupBy(expr(s"ts div $HourNs").as("bucket"))
        .agg(count(lit(1)).as("cnt")).collect().toSet
      assert(resumed == batch)
      assert(ckpt.resolve("commits").toFile.list().count(_.forall(_.isDigit)) == 3)
    }
}
