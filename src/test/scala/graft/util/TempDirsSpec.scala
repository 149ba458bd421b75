package graft.util

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  test("the shutdown cleanup deletes every created dir, and skips one already removed") {
    val dirs = Seq("a", "b", "c").map(p => TempDirs.create(s"tempdirs-spec-$p"))
    dirs.foreach(d => Files.writeString(Files.createDirectory(d.resolve("sub")).resolve("f"), "x"))
    assert(dirs.forall(TempDirs.created.contains))
    TempDirs.deleteRecursively(dirs(1))
    // the spec's own dirs only: the JVM-wide set also holds other suites' live dirs
    TempDirs.deleteAll(java.util.List.of(dirs: _*))
    assert(dirs.forall(d => !Files.exists(d)))
  }
}
