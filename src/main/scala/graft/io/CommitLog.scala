package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/**
 * The commit log and version sweep of every versioned store (the tile
 * store and the index services): `commits.jsonl`, one JSON record per line,
 * and the immutable `<relation>/v<M>` dirs beside it.
 *
 * An append is not atomic: a crash (or ENOSPC) mid-write leaves a torn
 * last line. `append` starts the next record on a fresh line, so the torn
 * tail never runs into it; `records` drops a line that is not one whole
 * JSON object. A line an older writer left with a retry's record appended
 * onto a torn tail reads as that trailing record, so old and new logs
 * read alike.
 */
object CommitLog {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Append one record line to `file`, after a newline if the file's last
    * byte is not one (a torn append). */
  def append(file: Path, record: String): Unit = {
    val torn = Files.exists(file) && Files.size(file) > 0 && {
      val raf = new java.io.RandomAccessFile(file.toFile, "r")
      try { raf.seek(raf.length - 1); raf.read() != '\n' } finally raf.close()
    }
    Files.write(file, ((if (torn) "\n" else "") + record + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Every record of `file`, oldest first. A line that does not parse is
    * dropped and logged. */
  def records(file: Path): Seq[Record] =
    if (!Files.exists(file)) Seq.empty
    else Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.trim.nonEmpty).flatMap(record(file))

  private def record(file: Path)(line: String): Option[Record] = {
    def parse(s: String) = Try(mapper.readTree(s)).toOption.filter(_.isObject).map(Record)
    // every record starts with "version": on a line an older writer ran a
    // retry's record into, the last such start is that whole record
    val retry = line.lastIndexOf("{\"version\"")
    val whole = parse(line).orElse(if (retry > 0) parse(line.substring(retry)) else None)
    if (whole.isEmpty)
      println(s"[commit-log] dropping unparseable $file line (torn append?): ${line.take(120)}")
    whole
  }

  /** One commit record. */
  final case class Record(json: JsonNode) {
    def long(key: String): Option[Long] =
      Option(json.get(key)).filter(_.isIntegralNumber).map(_.asLong)
    def int(key: String): Option[Int] = long(key).filter(_.isValidInt).map(_.toInt)
    /** A list of `[a, b]` pairs (e.g. `dirty_tiles`); empty when absent. */
    def pairs(key: String): Seq[(Long, Long)] =
      Option(json.get(key)).toSeq.flatMap(_.elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)))
  }

  /** Every `<relation>/v<M>` dir under `root`, with its M. */
  def versionDirs(root: Path): Seq[(Path, Long)] = {
    def dirs(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toList finally s.close()
      }
    dirs(root).flatMap(dirs).collect {
      case d if d.getFileName.toString.matches("v\\d+") => d -> d.getFileName.toString.drop(1).toLong
    }
  }

  /** Delete one version dir and return the bytes unlinked. Tombstone
    * first: `_SUCCESS` goes before any data file, so a crash mid-delete
    * leaves a snapshot readers already reject (serving a partially deleted
    * version would be corrupt time travel); the next sweep removes the
    * remains. */
  def deleteVersion(dir: Path): Long = {
    Files.deleteIfExists(dir.resolve("_SUCCESS"))
    var bytes = 0L
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p)) bytes += Files.size(p)
      Files.delete(p)
    } finally walk.close()
    bytes
  }
}
