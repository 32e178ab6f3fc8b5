package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * RESUMABLE incremental dedup service — the reference's worker posture
 * (idempotent, atomic, resumable batch maintenance; heatmap-tiles
 * `Worker.cs:50-61,122-129`, whose at-least-once double-apply the tile
 * store fixes with atomic data+cursor commits) applied end-to-end to the
 * TEXT dedup pipeline. It is a thin binding of the
 * modality-generic `IndexService` loop (probe → append → fold → atomic
 * index+labels+cursor commit of immutable versions, O(dirty) bucketed
 * label commits — see IndexService's scaladoc for the machinery) to the MinHash-LSH index:
 * the image pHash service (`PhashService`) runs the identical engine.
 *
 * At every committed point `labels/v<version>` is exactly the batch-mode
 * clustering of all documents below `cursor` (spec'd), and a crashed batch
 * leaves only versions above HEAD, which the resume deletes before it
 * deterministically re-runs the batch.
 */
object DedupService {

  type Head = IndexService.Head
  val Head: IndexService.Head.type = IndexService.Head

  /** The text modality: MinHash-LSH banded index (bands + shingles
    * tables), exact-Jaccard refined pairs. */
  final case class TextLsh(threshold: Double = 0.8, numHashes: Int = 64,
                           bands: Int = 8, maxBucket: Int = Int.MaxValue)
      extends ClusterModality {
    val idCol = "doc_id"
    def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      LshIndex.build(batch, idxDir, numHashes, bands)
    def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame =
      Dedup.minhashNearDups(batch, threshold, numHashes, bands, maxBucket)
    def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame =
      LshIndex.probe(idxDir, batch, threshold, numHashes, bands, maxBucket)
    def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit =
      LshIndex.append(batch, idxDir, numHashes, bands)
    def compact(idxDir: String)(implicit s: SparkSession): Unit =
      LshIndex.compact(idxDir)
  }

  def readHead(stateDir: String): Head = IndexService.readHead(stateDir)

  /** Current committed labels (id, cluster_id). */
  def labels(stateDir: String)(implicit spark: SparkSession): DataFrame =
    IndexService.labels(stateDir)

  /** Process every pending batch of `docs` (columns (doc_id, text); ids
    * assigned monotonically). Returns the committed head after draining.
    * Re-invoking with the same inputs is a no-op. */
  def run(docs: DataFrame, stateDir: String, batchSize: Long,
          threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 8,
          maxBucket: Int = Int.MaxValue, keepLabelVersions: Int = 2,
          compactEvery: Int = 0,
          labelRangeWidth: Long = IndexService.DefaultLabelRangeWidth)(
      implicit spark: SparkSession): Head =
    IndexService.run(docs.select("doc_id", "text"), stateDir, batchSize,
      TextLsh(threshold, numHashes, bands, maxBucket),
      keepLabelVersions, compactEvery, labelRangeWidth)

  /** sbt -batch 'runMain graft.dedup.DedupService <sfDir> <stateDir> [batchSize] [compactEvery] [labelRangeWidth]'
    * Parallelism follows SPARK_GRAFT_CPUS (default 32) like Bench /
    * ServiceMain, so service drives use the protocol's parallelism.
    * `labelRangeWidth` sizes the label buckets to the corpus (the default
    * targets billion-row id spaces; a small drive passes ~batchSize so the
    * O(dirty) commit shape is visible at sandbox scale). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DedupService <sfDir> <stateDir> [batchSize] [compactEvery] [labelRangeWidth]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    implicit val spark: SparkSession = graft.spark.Sessions.local(cpus, "dedup-service")
    try {
      val docs = graft.queries.Tables.documents(spark, args(0)).select("doc_id", "text")
      val batchSize = if (args.length > 2) args(2).toLong else 500L
      val compactEvery = if (args.length > 3) args(3).toInt else 0
      val width = if (args.length > 4) args(4).toLong else IndexService.DefaultLabelRangeWidth
      val head = run(docs, args(1), batchSize, compactEvery = compactEvery,
        labelRangeWidth = width)
      val lbl = labels(args(1))
      val kept = lbl.where(col("id") === col("cluster_id")).count()
      val stats = IndexService.commitStats(args(1))
      val dirs = stats.map(s => s"${s.writtenDirs}w+${s.carriedDirs}c/${s.writtenRows}r").mkString(",")
      println(s"[dedup-service] head=v${head.version} cursor=${head.cursor} " +
        s"docs=${lbl.count()} kept=$kept commits(written+carried/rows)=[$dirs]")
    } finally spark.stop()
  }
}
