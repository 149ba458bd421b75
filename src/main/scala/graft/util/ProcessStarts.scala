package graft.util

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Processes the JVM starts while `body` runs, counted from JFR
  * `jdk.ProcessStart` events. Hadoop's local file system forks `chmod`,
  * `readlink` or `stat` when it has no native library, so this is how a
  * checkpoint or state-store path shows that it forks.
  */
object ProcessStarts {
  def count[A](body: => A): (A, Int) = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      val a = body
      r.stop()
      val f = Files.createTempFile("process_starts", ".jfr")
      try { r.dump(f); (a, RecordingFile.readAllEvents(f).size) }
      finally Files.delete(f)
    } finally r.close()
  }
}
