package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import graft.sources.Tables
import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Scratch directories for a spec. [[tmpDir]] makes one under
  * `java.io.tmpdir`; when the test that made it ends, passed or failed,
  * the dir is deleted together with every derived store built from it
  * ([[TmpDirs.derivedStores]]). */
trait TmpDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = new ConcurrentLinkedQueue[File]()

  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(dir)
    dir.getPath
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      var dir = made.poll()
      while (dir != null) {
        (TmpDirs.derivedStores(dir.getPath) :+ dir).foreach(FileUtils.deleteQuietly)
        dir = made.poll()
      }
    }
}

object TmpDirs {
  /** Every derived-store tree built from `dir` (`Stores.scratchPath`). */
  def derivedStores(dir: String): Seq[File] =
    new File(System.getProperty("java.io.tmpdir")).listFiles().toSeq.filter(f =>
      f.isDirectory && f.getName.startsWith("graft_") &&
        f.getName.contains(Tables.pathSlug(dir)))
}
