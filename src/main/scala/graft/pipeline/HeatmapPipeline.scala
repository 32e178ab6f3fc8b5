package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.agg.{HeatmapAgg, Pyramid}
import graft.model.Schemas._
import graft.mvt.MvtJobs
import graft.raster.Rasterize
import graft.synth.{ImageSynth, TraceSynth}

/**
 * The flagship end-to-end query (reference lifecycle §3.1-3.2 of SURVEY.md):
 *
 *   images (Iceberg-shaped input) → derived tracks → rasterize (narrow)
 *   → tile-grain z14 aggregation (ONE exchange, cached)
 *   → z14 k-anon layer (narrow explode) + z13..z0 partials (tile-local)
 *   → MVT blobs (`mvtAll`: z14 narrow, ONE exchange for the lower levels)
 *
 * One form per stage: `run` returns the z14 layer, the full z14..z0 pyramid
 * and the cached tile relation they both derive from. Per-user pixel state
 * is the service's (`Incremental`'s `user_tiles`), not a side output here.
 * Deterministic at any scale; parallelism-independent results.
 */
object HeatmapPipeline {
  val DefaultUsers = 8 // synthetic user cardinality: ≥3 users overlap hot tiles

  /** Synthesize the input table distributed over the cluster. */
  def images(n: Long)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(n).map(i => ImageSynth.row(i))
  }

  /** Image rows → derived GPS tracks (the graft: phash seeds the walk). */
  def tracks(images: Dataset[ImageRow], users: Int = DefaultUsers)(
      implicit spark: SparkSession): Dataset[Track] = {
    import spark.implicits._
    images.map { r =>
      val id = r.image_id.stripPrefix("img").toLong
      Track(id, TraceSynth.userOf(r.phash, users), TraceSynth.trace(r.phash))
    }
  }

  /** Tracks per map task for synthesized inputs: DATA-sized splits, like
    * file splits on a real cluster — the split count follows the input, not
    * the core count, so (a) the map-side aggregation buffers are bounded
    * per task regardless of parallelism and (b) the strong-scaling legs run
    * the IDENTICAL plan — same splits, same shuffle partitioning — with
    * only the resources changing. Sized for the WORST concurrency: ~6k
    * tracks ≈ 1.4M distinct (pixel, user) pairs ≈ 70 MB of open-addressing
    * buffer per task; 32 concurrent tasks ≈ 2.2 GB, comfortable in an
    * 8 GiB heap (250k-track tasks OOM'd the 2-core leg, 15k-track tasks
    * OOM'd 32 concurrent ones — per-task memory × max concurrency is the
    * binding constraint, exactly like executor-memory ÷ task-slots on a
    * real cluster). */
  val TracksPerSplit = 6000L

  /** Cheap track synthesis that skips image encode/decode (bench path —
    * identical traces because both derive from phashOf(i)). */
  def tracksDirect(n: Long, users: Int = DefaultUsers)(
      implicit spark: SparkSession): Dataset[Track] = {
    import spark.implicits._
    val splits = math.max(8L, n / TracksPerSplit).toInt
    spark.range(0, n, 1, splits).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, users), TraceSynth.trace(ph))
    }
  }

  final case class HeatmapResult(
      z14: Dataset[GlobalPixel],
      pyramid: Dataset[GlobalPixel],
      tiles: Dataset[TileCells],
      k: Int = HeatmapAgg.KAnonymity) {
    /** Release whatever run() persisted (cache-ownership contract: the
      * caller that triggered the pipeline owns the cached intermediate). */
    def release(): Unit = tiles.unpersist()
  }

  def run(tracks: Dataset[Track], k: Int = HeatmapAgg.KAnonymity)(
      implicit spark: SparkSession): HeatmapResult = {
    // the rasterize flatMap is the CPU-dominant narrow stage: spread it over
    // every core even when the source is a single parquet split. An input
    // that already carries at least one split per core (e.g. tracksDirect's
    // data-sized splits) passes through untouched — no extra exchange.
    val par = spark.sparkContext.defaultParallelism * 2
    val spread =
      if (tracks.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
        tracks.repartition(par)
      else tracks
    // single-exchange z14 at TILE grain: the exchange carries one compact
    // buffer per (map partition × tile) instead of millions of pixel rows
    // (HeatmapAgg.tileCells; equality proven in HeatmapAggSpec). The cached
    // tile relation then feeds BOTH the z14 layer (narrow explode) and the
    // pyramid (tile-local pre-agg, ~cells/3 partial rows through one
    // groupBy) — no per-pixel ancestor-explode shuffle.
    val tc = HeatmapAgg.tileCells(Rasterize.tileVisits(spread))
    tc.persist()
    val z14 = HeatmapAgg.cellsToPixels(tc, k)
    HeatmapResult(z14, z14.union(Pyramid.lowerLevelsFromTiles(tc, k)), tc, k)
  }

  /** MVT export of the full pyramid, shuffle-lean: z14 tiles encode NARROW
    * from the cached tile relation (their cells are already grouped and
    * sorted); only the lower levels (~25 % of rows) go through the tile
    * exchange — ONE exchange, with the sibling-partial merge fused into
    * the encode group. Byte-equal to `encodeLowerFused(pyramid)`
    * (HeatmapPipelineSpec). */
  def mvtAll(result: HeatmapResult)(implicit spark: SparkSession): Dataset[MvtTile] =
    MvtJobs.encodeZ14FromTileCells(result.tiles, result.k)
      .union(MvtJobs.encodeLowerFused(Pyramid.lowerPartials(result.tiles, result.k)))
}
