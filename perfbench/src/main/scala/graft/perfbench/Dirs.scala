package graft.perfbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Local-directory helpers for inputs and state copies. Every
  * `Files.walk` stream is closed, and copies overwrite what they find.
  */
object Dirs {

  private def walk[T](root: Path)(f: Seq[Path] => T): T =
    Using.resource(JFiles.walk(root))(s => f(s.iterator().asScala.toSeq))

  def copy(src: Path, dst: Path): Unit = walk(src) { paths =>
    paths.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (JFiles.isDirectory(p)) JFiles.createDirectories(t)
      else JFiles.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def delete(root: Path): Unit =
    if (JFiles.exists(root))
      walk(root)(_.sortBy(-_.getNameCount).foreach(JFiles.deleteIfExists))

  def bytes(root: Path): Long = walk(root) { paths =>
    paths.filter(JFiles.isRegularFile(_)).map(JFiles.size).sum
  }
}
