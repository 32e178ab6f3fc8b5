package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.{GlobalPixel, UserPixel}

/** Pixel-grain oracle forms of the z14 kernel, kept for the specs only. */
object AggOracle {
  /** A4/F7 from the user grain: each (user, pixel) appears once after
    * `HeatmapAgg.userGrain`, so count(*) per pixel is the exact distinct
    * user count; k-anonymity HAVING. */
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
