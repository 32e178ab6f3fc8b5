package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.IndexService

/**
 * RESUMABLE IVF index maintenance — the embedding leg of the service triad
 * (text `DedupService`, image `PhashService`, embeddings here). The IVF
 * index carries no clustering state, so this service is the
 * commit-protocol subset of `IndexService`: id-range batching from a
 * committed cursor and immutable index versions under one HEAD commit —
 * closing `Ann.appendIvf`'s documented non-atomic / non-idempotent gap (a
 * crash mid-append left a partially visible batch; a blind retry
 * duplicated vec_ids).
 *
 * State layout under `stateDir`:
 *   index/v<N>/{centroids,vectors,NLISTS}  the persisted IVF index (`Ann`),
 *                                          one immutable dir per version
 *   HEAD                                   text "version cursor" — the commit point
 *
 * A crashed batch leaves only `index/v<HEAD+1>`, which the next run deletes
 * before anything else (`IndexService.drain`); the batch then re-runs
 * deterministically — exactly-once index contents from at-least-once
 * execution (IvfServiceSpec plants the crash points). A state whose
 * HEAD > 0 has no `index/v<HEAD>` was written by an older layout and is
 * refused before any file changes.
 */
object IvfService {

  type Head = IndexService.Head

  /** The committed index, `index/v<HEAD>`. */
  def indexDir(stateDir: String): String = IndexService.indexDir(stateDir)

  def readHead(stateDir: String): Head = IndexService.readHead(stateDir)

  /** Drain every pending batch of `vecs` (columns (vec_id, embedding); ids
    * assigned monotonically). The first non-empty batch BUILDS the index
    * (trains centroids); later batches append with frozen centroids —
    * production IVF's posture (retraining is a rebuild). `compactEvery`
    * compacts the fragmented list table in every Nth version before it
    * commits. The last 2 index versions are kept. */
  def run(vecs: DataFrame, stateDir: String, batchSize: Long, nLists: Int = 16,
          iters: Int = 3, compactEvery: Int = 0)(
      implicit spark: SparkSession): Head = {
    IndexService.requireLayout(stateDir, "index")
    IndexService.drain(
      vecs.select("vec_id", "embedding"), "vec_id", stateDir, batchSize) { (batch, head, idx) =>
      if (head.version == 0L) Ann.buildIvfIndex(batch, idx, nLists, iters)
      else Ann.appendIvf(batch, idx)
      if (compactEvery > 0 && (head.version + 1) % compactEvery == 0) Ann.compactIvf(idx)
    } { (committed, _) => IndexService.dropVersionsUpTo(stateDir, committed.version - 2) }
  }
}
