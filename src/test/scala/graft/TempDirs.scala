package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories a suite writes under `java.io.tmpdir`: each one
  * recorded with [[tempDir]] is deleted recursively once the suite ends,
  * so repeated runs do not pile up indexes, models and checkpoints. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>

  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** Record `dir` for deletion after the suite; returns it unchanged. */
  protected def tempDir(dir: String): String = {
    recorded.add(Paths.get(dir))
    dir
  }

  override def afterAll(): Unit =
    try recorded.forEach(d => rmTree(d)) finally super.afterAll()

  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) {
      val children = Files.list(p)
      try children.forEach(c => rmTree(c)) finally children.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
