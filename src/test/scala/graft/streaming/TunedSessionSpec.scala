package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.local.RawLocalFs

import graft.SparkSpec

/** Guards the one JVM-global side effect of [[StreamRunner.tunedSession]]:
  * it rebinds the context-level Hadoop conf's `file` AbstractFileSystem
  * (the FileContext API the checkpoint manager uses) to the raw local Fs.
  * Batch I/O rides the FileSystem API and must stay checksummed, and a
  * binding someone set explicitly must survive.
  */
class TunedSessionSpec extends SparkSpec {

  private val fsKey = "fs.AbstractFileSystem.file.impl"
  private val localFs = "org.apache.hadoop.fs.local.LocalFs"
  private val file = new URI("file:///")

  /** Run `body` with the key cleared, then put back its value and source. */
  private def withFsKeyCleared(body: Configuration => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = Option(hc.get(fsKey)).map(v => v -> hc.getPropertySources(fsKey).last)
    hc.unset(fsKey)
    try body(hc)
    finally saved match {
      case Some((v, src)) => hc.set(fsKey, v, src)
      case None => hc.unset(fsKey)
    }
  }

  test("Hadoop's own default binding is what tunedSession may replace") {
    val fresh = new Configuration()
    assert(fresh.get(fsKey) == localFs)
    assert(fresh.getPropertySources(fsKey).toSeq == Seq("core-default.xml"))
  }

  test("tunedSession binds file:// FileContext to RawLocalFs; FileSystem stays checksummed") {
    withFsKeyCleared { hc =>
      StreamRunner.tunedSession(spark.newSession())
      val fs = FileSystem.newInstance(file, hc)
      try assert(fs.isInstanceOf[LocalFileSystem], fs.getClass.getName)
      finally fs.close()
      val afs = AbstractFileSystem.get(file, hc)
      assert(afs.isInstanceOf[RawLocalFs], afs.getClass.getName)
    }
  }

  test("tunedSession keeps an explicitly set binding, even the default LocalFs") {
    withFsKeyCleared { hc =>
      hc.set(fsKey, localFs)
      StreamRunner.tunedSession(spark.newSession())
      assert(hc.get(fsKey) == localFs)
    }
  }
}
