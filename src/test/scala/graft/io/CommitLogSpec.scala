package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

/** The one `commits.jsonl` reader and writer, on hand-made logs: a torn
  * tail never runs into the next record, and a log an older writer left
  * with a retry's record appended onto a torn line still reads whole. */
class CommitLogSpec extends AnyFunSuite with graft.TempDirs {
  private def rec(v: Int) =
    s"""{"version": $v, "from_id": ${v * 10 - 11}, "to_id": ${v * 10 - 1}, "dirty_tiles": [[$v, 1], [$v, 2]]}"""

  private def versions(log: java.nio.file.Path) =
    CommitLog.records(log).map(r => (r.long("version"), r.long("to_id"), r.pairs("dirty_tiles")))

  test("append after a torn tail starts a fresh line; records drop only the torn line") {
    val log = Paths.get(tempDir("commit-log"), "commits.jsonl")
    CommitLog.append(log, rec(1))
    Files.write(log, rec(2).take(40).getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    CommitLog.append(log, rec(2))
    assert(Files.readAllLines(log).size === 3)
    assert(versions(log) === Seq(1L, 2L).map(v => (Some(v), Some(v * 10 - 1), Seq((v, 1L), (v, 2L)))))
  }

  test("a retry record an older writer appended onto a torn line reads as that record") {
    val log = Paths.get(tempDir("commit-log-old"), "commits.jsonl")
    // torn inside to_id, and torn after a whole record's closing brace
    Files.write(log, (rec(1) + "\n" + rec(2).take(39) + rec(2) + "\n" + rec(3) + rec(3) + "\n")
      .getBytes(StandardCharsets.UTF_8))
    assert(versions(log).map(_._1) === Seq(Some(1L), Some(2L), Some(3L)))
    assert(versions(log).map(_._2) === Seq(Some(9L), Some(19L), Some(29L)))
  }

  test("versionDirs lists <relation>/v<M> only; deleteVersion removes one and returns its bytes") {
    val root = Paths.get(tempDir("commit-log-dirs"))
    Seq("a/v1", "a/v2", "b/v2", "b/vx", "b/other").foreach(d => Files.createDirectories(root.resolve(d)))
    Files.write(root.resolve("a/v1/part-0.parquet"), new Array[Byte](7))
    Files.write(root.resolve("a/v1/_SUCCESS"), Array.empty[Byte])
    Files.write(root.resolve("HEAD"), "2".getBytes(StandardCharsets.UTF_8))
    assert(CommitLog.versionDirs(root).map { case (d, v) => (root.relativize(d).toString, v) }.toSet ===
      Set(("a/v1", 1L), ("a/v2", 2L), ("b/v2", 2L)))
    assert(CommitLog.deleteVersion(root.resolve("a/v1")) === 7L)
    assert(!Files.exists(root.resolve("a/v1")))
    assert(CommitLog.versionDirs(root.resolve("missing")).isEmpty)
  }
}
