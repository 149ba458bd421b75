package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

/** Temp-dir factory whose directories are removed on JVM exit, so repeated
  * Verify/Bench runs do not accumulate state under /tmp. One shutdown hook
  * deletes every directory made here, however many runs made them.
  */
object TempDirs {
  private[util] val created: java.util.Set[Path] = ConcurrentHashMap.newKeySet[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => deleteAll(created)))

  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    created.add(dir)
    dir
  }

  /** The shutdown hook's body; a directory already removed is skipped.
    * A directory that fails (a file vanishing mid-walk under a writer still
    * running at exit) is reported and does not stop the others.
    */
  private[util] def deleteAll(dirs: java.util.Collection[Path]): Unit =
    dirs.forEach { d =>
      try deleteRecursively(d)
      catch { case NonFatal(e) => System.err.println(s"TempDirs: could not delete $d: $e") }
    }

  def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val stream = Files.walk(dir)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }
}
