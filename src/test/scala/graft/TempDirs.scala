package graft

import java.io.File
import java.nio.file.Files

/** Temp directories that tests create and always delete, so a test run
  * leaves nothing behind in the system temp dir.
  */
object TempDirs {

  /** Deletes `f` and, for a directory, everything under it. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
  }

  /** Runs `body` on a fresh `Files.createTempDirectory(prefix)` dir and
    * deletes the dir afterwards, whether `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally rm(dir)
  }
}
