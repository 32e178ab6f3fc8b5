package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.GlobalPixel

/** Pixel-grain oracle forms of the z14 kernel, kept for the specs only. */
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
}
