package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.{ClusterModality, IndexService}

/**
 * RESUMABLE incremental EMBEDDING dedup service — the `IndexService` loop
 * bound to the persisted sign-LSH embedding index (`EmbIndex`), completing
 * the near-dup service triad: text `DedupService`, image `PhashService`,
 * embeddings here. Input rows: (vec_id: Long, embedding: Array[Float]).
 * The index lives in `index/v<N>/vecs` under the same versioned HEAD
 * commit as every service's. At every committed point the labels equal
 * batch-mode `Ann.lshClusters` of every vector below the cursor
 * (CrossSignalServiceSpec + the q_emb_svc_clusters oracle).
 */
object EmbService {

  type Head = IndexService.Head

  /** The embedding modality: one sign-random-projection bucket per vector,
    * exact codegen'd-cosine verify. */
  final case class EmbLsh(threshold: Double = 0.95, nPlanes: Int = 12,
                          maxBucket: Int = Int.MaxValue)
      extends ClusterModality {
    val idCol = "vec_id"
    def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      EmbIndex.build(batch.select("vec_id", "embedding"), idxDir, nPlanes)
    def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame =
      Ann.lshNearDupPairs(batch, threshold, nPlanes, maxBucket).select("a", "b")
    def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame =
      EmbIndex.probe(idxDir, batch, threshold, nPlanes, maxBucket).select("a", "b")
    def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      EmbIndex.append(batch.select("vec_id", "embedding"), idxDir, nPlanes)
    def compact(idxDir: String)(implicit s: SparkSession): Unit =
      EmbIndex.compact(idxDir)
  }

  def readHead(stateDir: String): Head = IndexService.readHead(stateDir)

  def labels(stateDir: String)(implicit spark: SparkSession): DataFrame =
    IndexService.labels(stateDir)

  def run(vecs: DataFrame, stateDir: String, batchSize: Long,
          threshold: Double = 0.95, nPlanes: Int = 12,
          maxBucket: Int = Int.MaxValue, keepLabelVersions: Int = 2,
          compactEvery: Int = 0,
          labelRangeWidth: Long = IndexService.DefaultLabelRangeWidth)(
      implicit spark: SparkSession): Head =
    IndexService.run(vecs.select("vec_id", "embedding"), stateDir, batchSize,
      EmbLsh(threshold, nPlanes, maxBucket), keepLabelVersions, compactEvery,
      labelRangeWidth)
}
