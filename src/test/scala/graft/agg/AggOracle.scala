package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.GlobalPixel

/** Pixel-grain oracle forms of the z14 kernel and the per-pixel pyramid,
  * kept for the specs only. */
object AggOracle {
  /** Per-user accumulated pixel at z14 (global pixel coords). */
  final case class UserPixel(user_id: Long, gx: Long, gy: Long, trips: Long)

  /** A2/A3: accumulate each user's pixels (saturating at u32 max as the
    * reference does on merge — Diffs/HeatMapExtensions.cs:113-117). */
  def userGrain(pixels: Dataset[UserPixel])(implicit spark: SparkSession): Dataset[UserPixel] = {
    import spark.implicits._
    pixels
      .groupBy($"user_id", $"gx", $"gy")
      .agg(least(sum($"trips"), lit(graft.core.Codec.U32Max)).as("trips"))
      .as[UserPixel]
  }

  /** A4/F7 from the user grain: each (user, pixel) appears once after
    * `userGrain`, so count(*) per pixel is the exact distinct user count;
    * k-anonymity HAVING. */
  def globalGrain(userPixels: Dataset[UserPixel], k: Int = HeatmapAgg.KAnonymity)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    userPixels
      .groupBy($"gx", $"gy")
      .agg(count(lit(1)).as("users"), sum($"trips").as("trips"))
      .where($"users" >= k)
      .select(lit(graft.raster.Rasterize.Zoom).as("z"), $"gx", $"gy", $"users", $"trips")
      .as[GlobalPixel]
  }

  /** The z14 layer from raw raster rows (user_id, pkey, trips) as one
    * built-in exact count-distinct: Catalyst plans it as a hash exchange on
    * pkey with a map-side partial keyed (pkey, user). No A3 clamp: a
    * single batch's trip counts cannot approach 2^32. */
  def globalGrainFused(rasterPixels: Dataset[graft.model.Schemas.PixelVisit],
                       k: Int = HeatmapAgg.KAnonymity)(
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

  /** All levels z14 → minZoom from a z14 layer: each pixel exploded into
    * its ancestor chain, one `mergePartials`. */
  def allLevels(z14: Dataset[GlobalPixel], minZoom: Int = 0)(
      implicit spark: SparkSession): Dataset[GlobalPixel] =
    Pyramid.mergePartials(Pyramid.ancestorPartials(z14, minZoom))
}
