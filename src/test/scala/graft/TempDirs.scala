package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Using

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories that live as long as their suite: every directory
  * made by [[tempDir]] is deleted, with everything under it, when the
  * suite ends, pass or fail. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]()

  /** A new empty directory under the JVM's temp dir. */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally dirs.forEach(TempDirs.delete(_))
}

object TempDirs {
  /** Deletes `root` and everything under it, children first. */
  def delete(root: Path): Unit =
    if (Files.exists(root))
      Using.resource(Files.walk(root)) { paths =>
        paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      }
}
