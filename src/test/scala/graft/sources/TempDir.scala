package graft.sources

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temporary directory per suite: every file a test writes goes
  * under it, and the whole tree is removed after the suite. */
trait TempDir extends BeforeAndAfterAll { this: Suite =>

  val tmpDir: Path = Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")

  /** A file path inside the suite's directory. */
  def tmp(name: String): String = tmpDir.resolve(name).toString

  /** A fresh, empty subdirectory of the suite's directory. */
  def tmpSubdir(prefix: String): String = Files.createTempDirectory(tmpDir, prefix).toString

  override def afterAll(): Unit =
    try {
      val tree = Files.walk(tmpDir)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally tree.close()
    } finally super.afterAll()
}
