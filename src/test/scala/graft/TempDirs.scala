package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.{Outcome, TestSuite}

/** Temp dirs a spec creates through `tempDir` are deleted when the test
  * that made them ends, passed or failed; `suiteTempDir` dirs, shared by
  * several tests, when the suite ends. */
trait TempDirs extends TestSuite {
  private val testDirs = ArrayBuffer.empty[String]
  private val suiteDirs = ArrayBuffer.empty[String]

  private def make(prefix: String, into: ArrayBuffer[String]): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    into += d
    d
  }
  private def drop(dirs: ArrayBuffer[String]): Unit = synchronized {
    dirs.foreach(graft.stream.StreamDedup.deleteTree)
    dirs.clear()
  }

  protected def tempDir(prefix: String): String = make(prefix, testDirs)
  protected def suiteTempDir(prefix: String): String = make(prefix, suiteDirs)

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally drop(testDirs)

  override def run(testName: Option[String], args: org.scalatest.Args): org.scalatest.Status =
    try super.run(testName, args) finally drop(suiteDirs)
}
