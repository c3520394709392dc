package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories a suite makes, deleted recursively in its
  * `afterAll`. `File.deleteOnExit` does nothing for a non-empty
  * directory, so a suite's outputs would otherwise stay in
  * `java.io.tmpdir` after every run. A suite that overrides `afterAll`
  * ends it with `super.afterAll()`.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new directory under `java.io.tmpdir`, removed after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(TempDirs.deleteRecursively(_))
}

object TempDirs {

  /** Delete `root` and everything under it, children first; symlinks
    * are removed, never followed. What cannot be deleted stays.
    */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => })
      finally all.close()
    }
}
