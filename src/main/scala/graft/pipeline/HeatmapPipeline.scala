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
      userPixels: Dataset[UserPixel],
      z14: Dataset[GlobalPixel],
      pyramid: Dataset[GlobalPixel],
      cached: Option[Dataset[TileCells]] = None,
      k: Int = HeatmapAgg.KAnonymity,
      minZoom: Int = 0) {
    /** Release whatever run() persisted (cache-ownership contract: the
      * caller that triggered the pipeline owns the cached intermediate). */
    def release(): Unit = cached.foreach(_.unpersist())
  }

  def run(tracks: Dataset[Track], k: Int = HeatmapAgg.KAnonymity, minZoom: Int = 0,
          stripes: Int = 1)(
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
    // groupBy) — no per-pixel ancestor-explode shuffle. `stripes > 1`
    // engages the hot-tile guard (`tileCellsStriped`) for corpora whose
    // user cardinality would concentrate an unbounded buffer on one reducer
    // (see runAuto for the size-triggered selection).
    val tc =
      if (stripes > 1) HeatmapAgg.tileCellsStriped(Rasterize.tileVisits(spread), stripes)
      else HeatmapAgg.tileCells(Rasterize.tileVisits(spread))
    tc.persist()
    val z14 = HeatmapAgg.cellsToPixels(tc, k)
    val pyr =
      if (minZoom >= Rasterize.Zoom) z14
      else z14.union(Pyramid.lowerLevelsFromTiles(tc, k, minZoom))
    // user-grain relation exposed for callers that need it (A3 surface);
    // plan-only until acted on
    val up = HeatmapAgg.userGrain(Rasterize.userPixels(spread))
    HeatmapResult(up, z14, pyr, cached = Some(tc), k = k, minZoom = minZoom)
  }

  /** `run` with SIZE-TRIGGERED hot-tile striping: estimates the distinct
    * user cardinality with one cheap sketch aggregation (HLL — an exchange
    * of sketches, not rows) and engages `tileCellsStriped` only when the
    * worst case (every user on one tile) would blow a single reducer's
    * buffer. On a production deployment the cardinality usually comes free
    * from the catalog/cursor table instead — pass it via `knownUsers`. */
  def runAuto(tracks: Dataset[Track], k: Int = HeatmapAgg.KAnonymity, minZoom: Int = 0,
              knownUsers: Option[Long] = None)(
      implicit spark: SparkSession): HeatmapResult = {
    import org.apache.spark.sql.functions.approx_count_distinct
    val users = knownUsers.getOrElse(
      tracks.select(approx_count_distinct("user_id")).head().getLong(0))
    run(tracks, k, minZoom, stripes = HeatmapAgg.stripesFor(users))
  }

  def mvt(pyramid: Dataset[GlobalPixel])(implicit spark: SparkSession): Dataset[MvtTile] =
    MvtJobs.encodeTiles(pyramid)

  /** MVT export of the full pyramid, shuffle-lean: z14 tiles encode NARROW
    * from the cached tile relation (their cells are already grouped and
    * sorted); only the lower levels (~25 % of rows) go through the tile
    * exchange — ONE exchange, with the sibling-partial merge fused into
    * the encode group. Byte-equal to `mvt(pyramid)` (HeatmapPipelineSpec). */
  def mvtAll(result: HeatmapResult)(implicit spark: SparkSession): Dataset[MvtTile] = {
    result.cached match {
      case Some(tc) =>
        MvtJobs.encodeZ14FromTileCells(tc, result.k)
          .union(MvtJobs.encodeLowerFused(
            Pyramid.lowerPartials(tc, result.k, result.minZoom)))
      case None => mvt(result.pyramid)
    }
  }
}
