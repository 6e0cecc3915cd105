package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Temporary directories for the specs and the mains: each one is
  * deleted, with everything written under it, when the JVM exits. */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(made.forEach(deleteTree))

  /** A new empty directory under the system temp dir, named
    * `<prefix><random>`. */
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () } // best effort
      finally walk.close()
    }
}
