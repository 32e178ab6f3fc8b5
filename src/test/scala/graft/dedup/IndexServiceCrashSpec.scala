package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Every crash point of the index services' one commit protocol: a wrapped
 * pHash modality throws right after a step of a batch has done its work —
 * on the first batch and on a later one — and the resumed run must end
 * exactly where an uncrashed run ends. Throwing in `compact`
 * (compactEvery = 1, the last step before HEAD moves) is the "everything
 * written, HEAD unmoved" point.
 */
class IndexServiceCrashSpec extends AnyFunSuite with graft.TempDirs {
  import IndexServiceCrashSpec._

  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(4, "index-service-crash-spec")

  private val BatchSize = 32L

  private def imgs(n: Long) = {
    import spark.implicits._
    spark.range(n).as[Long]
      .map(i => (i, graft.synth.ImageSynth.plantedPhash(i))).toDF("id", "phash")
  }

  private def labelMap(df: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col(df.columns(0)), col(df.columns(1))).as[(Long, Long)].collect().toMap
  }

  private def run(state: String, m: ClusterModality, n: Long) =
    IndexService.run(imgs(n), state, BatchSize, m, compactEvery = 1,
      labelRangeWidth = BatchSize)

  /** Crash `step` in the batch that takes the state to `n` rows, resume,
    * and check the resumed state against batch mode. */
  private def crashAndResume(state: String, step: String, n: Long): Unit = {
    val batch = n / BatchSize
    val at = s"$step in batch $batch"
    val m = new Faulty(step)
    intercept[Crash](run(state, m, n))
    assert(IndexService.readHead(state).version === batch - 1, s"$at: HEAD moved")
    assert(ServiceStates.versionsAboveHead(state).nonEmpty,
      s"$at: the crash left no uncommitted version — not a crash point")
    run(state, m, n) // the wrapper is disarmed now: a plain resume
    assert(labelMap(IndexService.labels(state)) ===
      labelMap(Dedup.phashClusters(imgs(n), maxDist = 3, maxBucket = Int.MaxValue)), s"$at: labels")
    assert(ServiceStates.versionsAboveHead(state).isEmpty, s"$at: versions above HEAD survived")
    val blocks = spark.read.parquet(s"${IndexService.indexDir(state)}/blocks")
    assert(blocks.groupBy("id", "blk").count().where(col("count") > 1).isEmpty,
      s"$at: an id is indexed twice")
    assert(blocks.select("id").distinct().count() === n, s"$at: an id is missing")
  }

  test("a crash at every step of the first and a later batch resumes to batch mode") {
    // the first batch: a fresh state per step
    Seq("build", "firstPairs", "compact").foreach { step =>
      crashAndResume(tempDir("index-service-crash-first"), step, BatchSize)
    }
    // a later batch: one state that each step's batch extends
    val state = tempDir("index-service-crash-later")
    run(state, PhashService.PhashBlocks(maxDist = 3), BatchSize)
    Seq("probe", "append", "compact").zipWithIndex.foreach { case (step, i) =>
      crashAndResume(state, step, (i + 2) * BatchSize)
    }
  }
}

object IndexServiceCrashSpec {
  final class Crash(at: String) extends RuntimeException(s"injected crash after $at")

  /** `PhashBlocks` that throws once, right after the first call of `step`. */
  final class Faulty(step: String) extends ClusterModality {
    private val inner = PhashService.PhashBlocks(maxDist = 3)
    private var armed = true
    private def at[A](name: String)(work: => A): A = {
      val out = work
      if (armed && name == step) {
        armed = false
        throw new Crash(step)
      }
      out
    }
    val idCol: String = inner.idCol
    def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      at("build")(inner.build(batch, idxDir))
    def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame =
      at("firstPairs")(inner.firstPairs(batch))
    def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame =
      at("probe")(inner.probe(idxDir, batch))
    def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      at("append")(inner.append(batch, idxDir))
    def compact(idxDir: String)(implicit s: SparkSession): Unit =
      at("compact")(inner.compact(idxDir))
  }
}
