package graft.perfbench

import java.nio.file.{Files, Path}

/** Small filesystem helpers for store and input accounting. */
object Disk {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Bytes of the data files under `p` (0 if absent). */
  def bytes(p: Path): Long = stats(p)._2

  /** (file count, bytes) of the data files under `p`, ignoring Spark's
    * underscore/dot bookkeeping files. */
  def stats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        var b = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f =>
          val name = f.getFileName.toString
          if (!name.startsWith("_") && !name.startsWith(".")) { n += 1; b += Files.size(f) }
        }
        (n, b)
      } finally s.close()
    }
}
