package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** (count, bytes) of the data files under `p`: Spark's hidden
    * bookkeeping (`_SUCCESS`, `.crc`, `_temporary`) is left out. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
          val rel = p.relativize(f).iterator().asScala.map(_.toString).toSeq
          rel.forall(n => !n.startsWith("_") && !n.startsWith("."))
        }.toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}
