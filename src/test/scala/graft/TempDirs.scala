package graft

import java.nio.file.{Files, Path}

object TempDirs {
  /** Run `body` over a fresh system temp dir named `prefix*`, deleted after
    * it returns or throws. */
  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally graft.util.Fs.deleteRecursively(dir)
  }
}
