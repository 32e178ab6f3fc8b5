package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The image-modality resumable service (the generic IndexService engine
 * bound to the persisted pHash block index) vs batch mode: at every
 * committed point the standing labels must equal `Dedup.phashClusters` of
 * everything below the cursor, across incremental arrival, restarts, and
 * injected crashes — the same contract DedupServiceSpec pins for text.
 */
class PhashServiceSpec extends AnyFunSuite with graft.TempDirs {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(4, "phash-service-spec")

  private val N = 256L

  /** Planted corpus: groups of 4 near-identical phashes (the
    * q_img_phash_neardups scheme) so clusters span batch boundaries. */
  private def imgs(n: Long) = {
    import spark.implicits._
    spark.range(n).as[Long]
      .map(i => (i, graft.synth.ImageSynth.plantedPhash(i))).toDF("id", "phash")
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col(df.columns(0)), col(df.columns(1))).as[(Long, Long)].collect().toMap
  }

  private def batchMode(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    labelMap(Dedup.phashClusters(d, maxDist = 3, maxBucket = Int.MaxValue))

  test("multi-batch run == batch-mode phashClusters; re-run is a committed no-op") {
    val state = java.nio.file.Files.createTempDirectory("phash-service").toString
    try {
      val d = imgs(N)
      val head = PhashService.run(d, state, batchSize = 64, maxDist = 3,
        labelRangeWidth = 64)
      assert(head.version === 4 && head.cursor === N)
      val got = labelMap(PhashService.labels(state))
      assert(got === batchMode(d))
      val again = PhashService.run(d, state, batchSize = 64, maxDist = 3,
        labelRangeWidth = 64)
      assert(again === head)
      assert(labelMap(PhashService.labels(state)) === got)
      // incremental arrival: the tail folds in, still equal to batch mode
      val more = imgs(N + 128)
      PhashService.run(more, state, batchSize = 64, maxDist = 3, labelRangeWidth = 64)
      assert(labelMap(PhashService.labels(state)) === batchMode(more))
      // O(dirty) commits: later batches carry clean buckets forward
      val stats = IndexService.commitStats(state).map(s =>
        (s.version, s.cursor, s.writtenDirs, s.carriedDirs, s.writtenRows))
      assert(stats.last._4 > 0, s"no carried dirs in ${stats.last}")
      assert(stats.last._5 < (N + 128),
        s"last commit rewrote ${stats.last._5} rows — corpus-sized, not dirty-sized")
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash between append and commit: recovery excises the batch, resume converges") {
    val state = java.nio.file.Files.createTempDirectory("phash-service-crash").toString
    try {
      val d = imgs(N)
      val half = d.where(col("id") < 128)
      PhashService.run(half, state, batchSize = 128, maxDist = 3)
      val head = IndexService.readHead(state)
      // simulate a crash mid-batch: the next batch already appended to the
      // next block index version, orphan labels dir, HEAD unmoved
      PhashIndex.append(d.where(col("id") >= 128 && col("id") < 192),
        ServiceStates.nextIndex(state), maxDist = 3)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(state, "labels", s"v${head.version + 1}"))
      PhashService.run(d, state, batchSize = 128, maxDist = 3)
      assert(labelMap(PhashService.labels(state)) === batchMode(d))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash during the very first build: state resets, run completes") {
    val state = java.nio.file.Files.createTempDirectory("phash-service-first").toString
    try {
      val d = imgs(128)
      // partial first build on disk, HEAD never written
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state, "labels", "v1"))
      PhashIndex.build(d.where(col("id") < 50), s"$state/index/v1", maxDist = 3)
      PhashService.run(d, state, batchSize = 128, maxDist = 3)
      assert(labelMap(PhashService.labels(state)) === batchMode(d))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("batch N+1 leaves every file of index/v<N> as it was (linked, appended, compacted)") {
    val state = tempDir("phash-service-immutable")
    // compactEvery = 2: v2 appends onto links of v1 and compacts, v3
    // appends onto links of the compacted v2
    val committed = (1 to 3).map { b =>
      PhashService.run(imgs(b * 32L), state, batchSize = 32, maxDist = 3,
        keepLabelVersions = 3, compactEvery = 2, labelRangeWidth = 32)
      ServiceStates.stamps(IndexService.indexDir(state))
    }
    committed.zipWithIndex.foreach { case (files, i) =>
      assert(ServiceStates.stamps(s"$state/index/v${i + 1}") === files,
        s"index/v${i + 1} changed after a later batch")
    }
    val v3 = java.nio.file.Paths.get(state, "index", "v3", "blocks")
    val linked = ServiceStates.stamps(v3.toString).keys.count(f =>
      java.nio.file.Files.getAttribute(v3.resolve(f), "unix:nlink")
        .asInstanceOf[Number].intValue >= 2)
    assert(linked > 0, "index/v3 carried no hardlink of index/v2")
  }
}
