package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.GlobalPixel

/**
 * Heatmap aggregation: the global k-anonymity layer — the reference's global
 * tile rebuild (`/root/reference/src/HeatMap.Tiles/Diffs/HeatMapExtensions.cs:49-131`,
 * `Worker.cs:167-222`): exact distinct users + trip sum per z14 pixel,
 * pixels seen by fewer than k users dropped. One form per caller:
 *
 *   tileCells → cellsToPixels   the flagship (HeatmapPipeline): ONE exchange
 *                               of per-tile `TileUsersAgg` buffers, then a
 *                               narrow explode with the k HAVING (A4/A5/F7);
 *                               Incremental runs the same pair over its
 *                               merged (tkey, user) runs of the dirty tiles
 *   globalGrainFused            q_hm_from_images and the specs' oracle:
 *                               built-in countDistinct from raw raster rows
 *
 * The count-distinct is EXACT everywhere (the reference enumerates real user
 * sets, no sketches): in the tile-grain kernel the (pixel, user) set rides
 * inside the buffer.
 */
object HeatmapAgg {
  val KAnonymity = 3 // MIN_USERS — Worker.cs:204-216, Program.cs:34

  /** Single-exchange z14 layer from raw raster output (user_id, pkey,
    * trips): Catalyst plans the exact count-distinct as ONE hash exchange
    * on pkey with a map-side partial keyed (pkey, user) — half the shuffle
    * volume of an explicit user-grain → pixel-grain cascade, same exact
    * result (proved equal in HeatmapAggSpec). The user-grain saturating
    * clamp (A3) is not applicable on this path: single-batch trip counts
    * cannot approach 2^32 (documented divergence of the fused form;
    * Incremental's run merge keeps the clamp). */
  def globalGrainFused(rasterPixels: org.apache.spark.sql.Dataset[graft.model.Schemas.PixelVisit],
                       k: Int = KAnonymity)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    rasterPixels.toDF()
      .groupBy($"pkey")
      .agg(countDistinct($"user_id").as("users"), sum($"trips").as("trips"))
      .where($"users" >= k)
      .select(lit(graft.raster.Rasterize.Zoom).as("z"),
        shiftrightunsigned($"pkey", 32).as("gx"),
        $"pkey".bitwiseAND(lit(graft.core.Codec.U32Max)).as("gy"),
        $"users", $"trips")
      .as[GlobalPixel]
  }

  /** The tile-grain aggregation the flagship runs: one exchange keyed by
    * tkey, one row per tile out. A pixel-grain plan exchanges one row per
    * distinct pixel per map partition; with tracks landing randomly every
    * partition covers most hot pixels, so that exchange carries millions of
    * rows. Grouping by tile (`Rasterize.tileVisits` + `TileUsersAgg`)
    * exchanges one compact binary buffer per (map partition × tile) — the
    * row count drops by the pixels-per-tile factor (~500× at sf0.1). Same
    * exact semantics (proved equal to the fused plan in HeatmapAggSpec).
    * The flagship caches THIS relation and derives both the z14 layer
    * (`cellsToPixels`, narrow) and the pyramid
    * (`Pyramid.lowerLevelsFromTiles`, tile-local pre-agg) from it. */
  def tileCells(tiles: org.apache.spark.sql.Dataset[graft.model.Schemas.TileVisit])(
      implicit spark: SparkSession): Dataset[graft.model.Schemas.TileCells] = {
    import spark.implicits._
    tiles.toDF()
      .groupBy($"tkey")
      .agg(graft.functions.TileUsersFunctions.tileUsers(spark, $"user_id", $"pixels").as("cells"))
      .as[graft.model.Schemas.TileCells]
  }

  /** Narrow explode of aggregated tiles into the pixel relation, with the
    * k-anonymity HAVING (no shuffle — cells are already exact). */
  def cellsToPixels(tc: Dataset[graft.model.Schemas.TileCells],
                    k: Int = KAnonymity,
                    zoom: Int = graft.raster.Rasterize.Zoom,
                    resolution: Int = graft.raster.Rasterize.Resolution)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    tc.toDF()
      .select($"tkey", explode($"cells").as("c"))
      .where($"c.users" >= k)
      .select(lit(zoom).as("z"),
        (shiftrightunsigned($"tkey", 32) * resolution +
          floor($"c.pix" / resolution)).cast("long").as("gx"),
        ($"tkey".bitwiseAND(lit(graft.core.Codec.U32Max)) * resolution +
          $"c.pix" % resolution).cast("long").as("gy"),
        $"c.users".cast("long").as("users"), $"c.trips".cast("long").as("trips"))
      .as[GlobalPixel]
  }

  /** tile→users inverted index (S13, Worker.cs:298-338): distinct users per
    * z14 tile as a sorted array — usually fused away into the count-distinct
    * aggregate, materialized here as the library surface. */
  def tileUsersIndex(rasterPixels: org.apache.spark.sql.Dataset[graft.model.Schemas.PixelVisit])(
      implicit spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val res = graft.raster.Rasterize.Resolution
    rasterPixels.toDF()
      .select(floor(shiftrightunsigned($"pkey", 32) / res).cast("long").as("tx"),
        floor($"pkey".bitwiseAND(lit(graft.core.Codec.U32Max)) / res).cast("long").as("ty"),
        $"user_id")
      .groupBy($"tx", $"ty")
      .agg(sort_array(collect_set($"user_id")).as("users"))
  }
}
