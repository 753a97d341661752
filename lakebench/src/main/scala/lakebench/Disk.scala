package lakebench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** Disk counters measured from outside the engine: a listing of every
  * regular file under a table root. Comparing the listings taken before and
  * after a call gives the files it created (a new path, or an old path
  * rewritten in place, such as a commit marker) and their bytes. */
object Disk {

  final case class Entry(size: Long, mtimeNs: Long)

  def list(root: Path): Map[String, Entry] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile)
          Some(p.toString -> Entry(a.size, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)))
        else None
      }.toMap
      finally s.close()
    }

  /** Files in `after` that are not in `before` unchanged. */
  def created(before: Map[String, Entry], after: Map[String, Entry]): Seq[Entry] =
    after.iterator.collect { case (p, e) if !before.get(p).contains(e) => e }.toSeq

  def bytes(es: Iterable[Entry]): Long = es.iterator.map(_.size).sum

  def sizeOf(paths: Iterable[String]): Long =
    paths.iterator.map(p => Files.size(java.nio.file.Paths.get(new java.net.URI(p)))).sum
}
