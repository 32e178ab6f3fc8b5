package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.{GlobalPixel, TileCells, TileVisit}

/**
 * Heatmap aggregation: the global k-anonymity layer — the reference's global
 * tile rebuild (`/root/reference/src/HeatMap.Tiles/Diffs/HeatMapExtensions.cs:49-131`,
 * `Worker.cs:167-222`): exact distinct users + trip sum per z14 pixel,
 * pixels seen by fewer than k users dropped. One form:
 *
 *   tileCells → cellsToPixels   ONE exchange of per-tile `TileUsersAgg`
 *                               buffers into the flat `TileCells` layout,
 *                               then a narrow explode with the k HAVING
 *                               (A4/A5/F7). The flagship (HeatmapPipeline),
 *                               Incremental (over its merged (tkey, user)
 *                               runs of the dirty tiles) and the q_hm_*
 *                               catalog queries all run this pair.
 *
 * The count-distinct is EXACT (the reference enumerates real user sets, no
 * sketches): each user's pixel-unique run rides inside the tile buffer, and
 * a pixel's users are its entries in the tile's sorted runs. The
 * pixel-grain count-distinct it is proved equal to is a test-scope oracle
 * (`AggOracle`).
 */
object HeatmapAgg {
  val KAnonymity = 3 // MIN_USERS — Worker.cs:204-216, Program.cs:34

  /** The tile-grain aggregation: one exchange keyed by tkey, one row per
    * tile out. A pixel-grain plan exchanges one row per distinct pixel per
    * map partition; with tracks landing randomly every partition covers
    * most hot pixels, so that exchange carries millions of rows. Grouping
    * by tile (`Rasterize.tileVisits` + `TileUsersAgg`) exchanges one compact
    * binary buffer per (map partition × tile) — the row count drops by the
    * pixels-per-tile factor (~500× at sf0.1). A buffer holds one sorted,
    * pixel-unique run per user (8 B an entry): merging joins a user's runs
    * with `TileBuffer.mergeRuns`, and eval counts each pixel's users with
    * one sort of the tile's runs — users are hashed, pixel entries never.
    * Trips clamp at u32 per (user, pixel) as the reference's merge does
    * (A3); a pixel's trip sum over its users is a Long. The flagship caches
    * THIS relation and derives both the z14 layer (`cellsToPixels`,
    * narrow) and the pyramid (`Pyramid.lowerLevelsFromTiles`, tile-local
    * pre-agg) from it. */
  def tileCells(tiles: Dataset[TileVisit])(implicit spark: SparkSession): Dataset[TileCells] = {
    import spark.implicits._
    tiles.toDF()
      .groupBy($"tkey")
      .agg(graft.functions.TileUsersFunctions.tileUsers(spark, $"user_id", $"pixels").as("c"))
      .select($"tkey", $"c.*")
      .as[TileCells]
  }

  /** Narrow explode of aggregated tiles into the pixel relation, with the
    * k-anonymity HAVING (no shuffle — cells are already exact): one
    * posexplode of `cells`, `users`/`trips` read at the same position. */
  def cellsToPixels(tc: Dataset[TileCells],
                    k: Int = KAnonymity,
                    zoom: Int = graft.raster.Rasterize.Zoom,
                    resolution: Int = graft.raster.Rasterize.Resolution)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    tc.toDF()
      .select($"tkey", $"users", $"trips", posexplode($"cells").as(Seq("i", "pix")))
      .where($"users"($"i") >= k)
      .select(lit(zoom).as("z"),
        (shiftrightunsigned($"tkey", 32) * resolution +
          floor($"pix" / resolution)).cast("long").as("gx"),
        ($"tkey".bitwiseAND(lit(graft.core.Codec.U32Max)) * resolution +
          $"pix" % resolution).cast("long").as("gy"),
        $"users"($"i").as("users"), $"trips"($"i").as("trips"))
      .as[GlobalPixel]
  }

  /** tile→users inverted index (S13, Worker.cs:298-338): distinct users per
    * z14 tile as a sorted array — usually fused away into the count-distinct
    * aggregate, materialized here as the library surface. */
  def tileUsersIndex(rasterPixels: Dataset[graft.model.Schemas.PixelVisit])(
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
