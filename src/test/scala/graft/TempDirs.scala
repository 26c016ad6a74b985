package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories for one suite: each is made under one root, and the
  * root goes with everything in it once the suite ends. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private var root: Path = _

  /** A new, empty directory named `prefix` plus a random suffix. */
  protected def tempDir(prefix: String): Path = synchronized {
    if (root == null) root = Files.createTempDirectory(getClass.getSimpleName)
    Files.createTempDirectory(root, prefix)
  }

  /** A task of a stopped stream may still be finishing a write into its
    * checkpoint: a second try follows a pause, and fails loudly. */
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      if (root != null && !FileUtils.deleteQuietly(root.toFile)) {
        Thread.sleep(1000)
        FileUtils.deleteDirectory(root.toFile)
      }
    }
}
