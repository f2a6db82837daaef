package pipebench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** What sits under a warehouse directory, read from the file system alone.
  *
  * A file counts as written between two snapshots when its (inode, mtime)
  * pair is new: a rename (staging promotion, archive set-aside, Spark's task
  * and job commit) keeps both, so moved bytes are not counted twice, while a
  * fresh file that reuses a freed inode still has a new mtime. */
object Disk {
  final case class Entry(ino: Any, mtimeNs: Long, size: Long)

  def snapshot(root: String): Map[String, Entry] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else Using.resource(Files.walk(r)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, "unix:ino,lastModifiedTime,size")
        val mtime = a.get("lastModifiedTime").asInstanceOf[java.nio.file.attribute.FileTime]
        r.relativize(p).toString ->
          Entry(a.get("ino"), mtime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
            a.get("size").asInstanceOf[Long])
      }.toMap
    }
  }

  private def isData(rel: String): Boolean = {
    val n = Paths.get(rel).getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** (data files, bytes) written between the two snapshots; bytes include
    * checksum and marker files. */
  def written(before: Map[String, Entry], after: Map[String, Entry]): (Long, Long) = {
    val old = before.values.map(e => (e.ino, e.mtimeNs)).toSet
    val fresh = after.filter { case (_, e) => !old.contains((e.ino, e.mtimeNs)) }
    (fresh.keys.count(isData).toLong, fresh.values.map(_.size).sum)
  }

  private val Archive = """^[^/]+\.p?v\d+/.*""".r

  def spaceBytes(snap: Map[String, Entry]): Long = snap.values.map(_.size).sum

  def archiveBytes(snap: Map[String, Entry]): Long =
    snap.collect { case (rel, e) if Archive.matches(rel) => e.size }.sum

  /** Data files of the live tables (archives excluded). */
  def tableFiles(snap: Map[String, Entry]): Long =
    snap.keys.count(rel => !Archive.matches(rel) && isData(rel)).toLong

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Using.resource(Files.walk(src)) { s =>
      s.iterator.asScala.foreach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q)
      }
    }
  }
}
