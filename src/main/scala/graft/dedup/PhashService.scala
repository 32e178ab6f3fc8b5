package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * RESUMABLE incremental IMAGE dedup service — the `IndexService` loop
 * (probe → append → fold → atomic index+labels+cursor commit of immutable
 * versions, O(dirty) bucketed label commits) bound to the persisted
 * perceptual-hash block index. The block index lives in `index/v<N>` like
 * every service's: a crash mid-append leaves only `index/v<HEAD+1>`, which
 * the next run deletes before re-running the batch, so no manual recovery
 * is ever needed.
 *
 * Input rows: (id: Long, phash: Long) — callers hash bytes upstream with
 * `ImageOps.computePhashes` (the q_img_dedup_e2e path). At every committed
 * point the labels equal batch-mode `Dedup.phashClusters` of every image
 * below the cursor (PhashServiceSpec + the q_img_svc_clusters oracle).
 */
object PhashService {

  type Head = IndexService.Head

  /** The image modality: pigeonhole block index, exact hamming pairs. */
  final case class PhashBlocks(maxDist: Int = 3, maxBucket: Int = Int.MaxValue)
      extends ClusterModality {
    val idCol = "id"
    def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      PhashIndex.build(batch.select("id", "phash"), idxDir, maxDist)
    def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame =
      Dedup.phashNearDups(batch, maxDist, maxBucket).select("a", "b")
    def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame =
      PhashIndex.probe(idxDir, batch, maxDist, maxBucket).select("a", "b")
    def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      PhashIndex.append(batch.select("id", "phash"), idxDir, maxDist)
    def compact(idxDir: String)(implicit s: SparkSession): Unit =
      PhashIndex.compact(idxDir)
  }

  def readHead(stateDir: String): Head = IndexService.readHead(stateDir)

  def labels(stateDir: String)(implicit spark: SparkSession): DataFrame =
    IndexService.labels(stateDir)

  def run(imgs: DataFrame, stateDir: String, batchSize: Long, maxDist: Int = 3,
          maxBucket: Int = Int.MaxValue, keepLabelVersions: Int = 2,
          compactEvery: Int = 0,
          labelRangeWidth: Long = IndexService.DefaultLabelRangeWidth)(
      implicit spark: SparkSession): Head =
    IndexService.run(imgs.select("id", "phash"), stateDir, batchSize,
      PhashBlocks(maxDist, maxBucket), keepLabelVersions, compactEvery,
      labelRangeWidth)
}
