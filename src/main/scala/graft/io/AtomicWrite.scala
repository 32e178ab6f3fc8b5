package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/**
 * The ONE audited commit-point write: stage to a sibling temp file, then
 * ATOMIC_MOVE over the target. Readers see either the old or the new
 * content, never a torn write — every cursor/HEAD/marker file in the
 * engine (tile store HEAD + EXPORTED, users-index files, the dedup
 * services' HEAD) commits through here, so a future durability
 * change (e.g. fsync of the file or parent directory) lands in one spot.
 */
object AtomicWrite {
  def write(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Variant with a caller-chosen staging name (hidden temp files, e.g.
    * the users-index dirs where the visible namespace is enumerated). */
  def writeVia(tmp: Path, target: Path, content: String): Unit = {
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
