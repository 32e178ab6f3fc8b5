package graft.dedup

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * RESUMABLE CROSS-SIGNAL dedup service — the q_d10 keep decision ("a pair
 * surfaced by EITHER the text or the semantic signal merges the cluster")
 * run INCREMENTALLY with REAL index probes, not dump filters: per batch
 * the text MinHash-LSH index and the embedding sign-LSH index are both
 * probed, the two pair relations UNION over the shared id space, and ONE
 * `incrementalDelta` fold updates the standing clustering — committed
 * atomically under the same versioned HEAD protocol as every other
 * modality (a crash mid-append on EITHER index leaves only versions above
 * HEAD, deleted on resume).
 *
 * Input rows: (doc_id, text, embedding) — the documents table joined with
 * its embeddings on the shared id. Index layout under `stateDir/index/v<N>`:
 * `text/{bands,shingles}` (LshIndex) + `emb/vecs` (EmbIndex), one
 * immutable version of both per commit.
 */
object CrossSignalService {

  type Head = IndexService.Head

  final case class CrossSignal(textThreshold: Double = 0.8, numHashes: Int = 64,
                               bands: Int = 8, embThreshold: Double = 0.95,
                               nPlanes: Int = 12, maxBucket: Int = Int.MaxValue)
      extends ClusterModality {
    val idCol = "doc_id"
    private def textDir(idxDir: String) = Paths.get(idxDir, "text").toString
    private def embDir(idxDir: String) = Paths.get(idxDir, "emb").toString
    private def embRows(batch: DataFrame): DataFrame =
      batch.selectExpr("doc_id AS vec_id", "embedding")
    def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit = {
      LshIndex.build(batch.select("doc_id", "text"), textDir(idxDir), numHashes, bands)
      graft.ann.EmbIndex.build(embRows(batch), embDir(idxDir), nPlanes)
    }
    def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame =
      Dedup.minhashNearDups(batch.select("doc_id", "text"),
          textThreshold, numHashes, bands, maxBucket).select("a", "b")
        .unionByName(graft.ann.Ann.lshNearDupPairs(embRows(batch),
          embThreshold, nPlanes, maxBucket).select("a", "b"))
    def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame =
      LshIndex.probe(textDir(idxDir), batch.select("doc_id", "text"),
          textThreshold, numHashes, bands, maxBucket).select("a", "b")
        .unionByName(graft.ann.EmbIndex.probe(embDir(idxDir), embRows(batch),
          embThreshold, nPlanes, maxBucket).select("a", "b"))
    def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit = {
      LshIndex.append(batch.select("doc_id", "text"), textDir(idxDir), numHashes, bands)
      graft.ann.EmbIndex.append(embRows(batch), embDir(idxDir), nPlanes)
    }
    def compact(idxDir: String)(implicit s: SparkSession): Unit = {
      LshIndex.compact(textDir(idxDir))
      graft.ann.EmbIndex.compact(embDir(idxDir))
    }
  }

  def readHead(stateDir: String): Head = IndexService.readHead(stateDir)

  def labels(stateDir: String)(implicit spark: SparkSession): DataFrame =
    IndexService.labels(stateDir)

  /** `rows` needs (doc_id, text, embedding); ids shared across signals. */
  def run(rows: DataFrame, stateDir: String, batchSize: Long,
          textThreshold: Double = 0.8, numHashes: Int = 64, bands: Int = 8,
          embThreshold: Double = 0.95, nPlanes: Int = 12,
          maxBucket: Int = Int.MaxValue, keepLabelVersions: Int = 2,
          compactEvery: Int = 0,
          labelRangeWidth: Long = IndexService.DefaultLabelRangeWidth)(
      implicit spark: SparkSession): Head =
    IndexService.run(rows.select("doc_id", "text", "embedding"), stateDir,
      batchSize,
      CrossSignal(textThreshold, numHashes, bands, embThreshold, nPlanes, maxBucket),
      keepLabelVersions, compactEvery, labelRangeWidth)
}
