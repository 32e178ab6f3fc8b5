package graft.dedup

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Hand-planted and inspected index-service states for the crash and
  * refusal specs. */
object ServiceStates {

  private def walk(root: Path): List[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList finally s.close()
  }

  /** The start of an uncommitted batch: `index/v<HEAD+1>` carried from
    * `index/v<HEAD>` the way `IndexService.drain` carries it, HEAD
    * unmoved. Returns the new version's dir. */
  def nextIndex(state: String): String = {
    val v = IndexService.readHead(state).version
    val to = Paths.get(state, "index", s"v${v + 1}")
    IndexService.carryIndex(Paths.get(state, "index", s"v$v"), to)
    to.toString
  }

  /** Rewrite a committed state into the older layout, whose index tables
    * live unversioned in `index/`. */
  def unversionIndex(state: String): Unit = {
    val tmp = Paths.get(state, "index.unversioned")
    Files.move(Paths.get(IndexService.indexDir(state)), tmp)
    graft.stream.StreamDedup.deleteTree(Paths.get(state, "index").toString)
    Files.move(tmp, Paths.get(state, "index"))
  }

  /** Every `v<M>` dir with M above the committed HEAD, anywhere under the
    * state dir. */
  def versionsAboveHead(state: String): Seq[String] = {
    val head = IndexService.readHead(state).version
    walk(Paths.get(state)).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("v\\d+") &&
        p.getFileName.toString.drop(1).toLong > head)
      .map(p => Paths.get(state).relativize(p).toString)
  }

  /** Relative path -> file bytes (None for a directory). */
  def tree(state: String): Map[String, Option[Seq[Byte]]] = {
    val root = Paths.get(state)
    walk(root).map(p => root.relativize(p).toString ->
      (if (Files.isRegularFile(p)) Some(Files.readAllBytes(p).toSeq) else None)).toMap
  }

  /** Every file under `dir`: relative path -> (size, mtime, bytes). */
  def stamps(dir: String): Map[String, (Long, java.nio.file.attribute.FileTime, Seq[Byte])] = {
    val root = Paths.get(dir)
    walk(root).filter(Files.isRegularFile(_)).map(p => root.relativize(p).toString ->
      ((Files.size(p), Files.getLastModifiedTime(p), Files.readAllBytes(p).toSeq))).toMap
  }
}
