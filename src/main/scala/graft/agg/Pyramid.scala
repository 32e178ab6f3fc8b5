package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas.GlobalPixel

/**
 * Zoom-pyramid rollup: z → z-1 by 2×2 → 1 pixel downsampling sums.
 *
 * Re-expresses the reference's parent-tile rebuild
 * (`/root/reference/src/HeatMap.Tiles/HeatMapExtensions.cs:148-214`): the
 * parent pixel of global pixel (gx, gy) is exactly (gx >> 1, gy >> 1)
 * (tile (x/2, y/2), local offset (res/2)·(x%2) + px/2 — the quadrant math
 * collapses in global pixel coordinates), and parent values are plain sums
 * of the thresholded child values. The reference adds the packed u64s
 * directly — equivalent to summing `users`/`trips` independently while
 * trips < 2^32 (documented carry hazard, HeatMapExtensions.cs:209); we sum
 * the unpacked columns, which is the carry-safe form.
 *
 * Two partial producers feed ONE merge groupBy (`mergePartials`) keyed on
 * (z, gx, gy) — pixel-grain keys, no hot single key, partial aggregation
 * does the combine map-side: the tile-local pre-aggregation of the flat
 * `TileCells` layout (`localRollup`, the flagship path) and the per-pixel
 * ancestor explode (`ancestorPartials`, Incremental's signed z14 delta).
 * The iterative 2×2 cascade that defines the semantics is PyramidSpec's
 * oracle.
 */
object Pyramid {

  /** Tile-LOCAL pyramid partials for one aggregated z14 tile (pure kernel).
    * Rolls the tile's surviving cells up level by level inside the flatMap —
    * each level 4× smaller — so the resulting partial rows number
    * ~cells/3, not the 14×cells the per-pixel ancestor-explode would emit
    * through the exchange. Partials from sibling tiles that share a parent
    * pixel are merged by the single downstream groupBy; addition is
    * associative, so the result equals the iterative 2×2 cascade
    * (HeatMapExtensions.cs:148-214) exactly — proved in PyramidSpec /
    * HeatmapPipelineSpec. */
  def localRollup(tkey: Long, cells: Array[Int], users: Array[Long], trips: Array[Long],
                  k: Int, minZoom: Int, maxZoom: Int = graft.raster.Rasterize.Zoom,
                  resolution: Int = graft.raster.Rasterize.Resolution): Iterator[GlobalPixel] = {
    val len = cells.length
    val tx = tkey >>> 32
    val ty = tkey & 0xFFFFFFFFL
    // current level's entries, key = gx << 24 | gy (gx at z14 has ≤23 bits)
    var curKey = new Array[Long](len)
    var curU = new Array[Long](len)
    var curT = new Array[Long](len)
    var n = 0
    var ci = 0
    while (ci < len) {
      val u = users(ci)
      if (u >= k) {
        val gx = tx * resolution + cells(ci) / resolution
        val gy = ty * resolution + cells(ci) % resolution
        curKey(n) = (gx << 24) | gy; curU(n) = u; curT(n) = trips(ci)
        n += 1
      }
      ci += 1
    }
    val out = Iterator.newBuilder[GlobalPixel]
    var z = maxZoom - 1
    while (z >= minZoom && n > 0) {
      val sumU = new scala.collection.mutable.LongMap[Long](n)
      val sumT = new scala.collection.mutable.LongMap[Long](n)
      var i = 0
      while (i < n) {
        val key = (((curKey(i) >>> 24) >> 1) << 24) | ((curKey(i) & 0xFFFFFFL) >> 1)
        sumU.update(key, sumU.getOrElse(key, 0L) + curU(i))
        sumT.update(key, sumT.getOrElse(key, 0L) + curT(i))
        i += 1
      }
      n = sumU.size
      curKey = new Array[Long](n); curU = new Array[Long](n); curT = new Array[Long](n)
      var j = 0
      sumU.foreach { case (key, u) =>
        curKey(j) = key; curU(j) = u; curT(j) = sumT(key)
        out += GlobalPixel(z, key >>> 24, key & 0xFFFFFFL, u, sumT(key))
        j += 1
      }
      z -= 1
    }
    out.result()
  }

  /** Levels z13 → minZoom from the aggregated tile relation: tile-local
    * pre-agg (narrow flatMap over the cached TileCells) + ONE groupBy to
    * merge sibling-tile partials. The z14 layer itself is NOT re-emitted —
    * it comes narrow from `HeatmapAgg.cellsToPixels`; union the two. */
  def lowerLevelsFromTiles(tc: Dataset[graft.model.Schemas.TileCells], k: Int,
                           minZoom: Int = 0,
                           resolution: Int = graft.raster.Rasterize.Resolution)(
      implicit spark: SparkSession): Dataset[GlobalPixel] =
    mergePartials(lowerPartials(tc, k, minZoom, resolution))

  /** RAW tile-local pyramid partials (no sibling merge): feed these to
    * `MvtJobs.encodeLowerFused` to get the lower-level export in ONE
    * shuffle — the per-pixel merge happens inside the per-tile encode
    * group instead of a separate exchange. */
  def lowerPartials(tc: Dataset[graft.model.Schemas.TileCells], k: Int,
                    minZoom: Int = 0,
                    resolution: Int = graft.raster.Rasterize.Resolution)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    tc.flatMap(t => localRollup(t.tkey, t.cells, t.users, t.trips, k, minZoom,
      graft.raster.Rasterize.Zoom, resolution))
  }

  /** Merge sibling-tile partials per pixel (the one groupBy of the
    * tile-local pyramid plan). */
  def mergePartials(partials: Dataset[GlobalPixel])(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    partials
      .groupBy($"z", $"gx", $"gy")
      .agg(sum($"users").as("users"), sum($"trips").as("trips"))
      .select($"z", $"gx", $"gy", $"users", $"trips")
      .as[GlobalPixel]
  }

  /** Each z14 pixel exploded into its ancestor chain (z, gx >> (14-z),
    * gy >> (14-z)) for z = minZoom..14, itself included; unmerged. Values
    * may be signed: `Incremental` explodes a z14 delta with it. */
  def ancestorPartials(z14: Dataset[GlobalPixel], minZoom: Int = 0)(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    val maxZoom = graft.raster.Rasterize.Zoom
    z14.flatMap { p =>
      Iterator.range(minZoom, maxZoom + 1).map { z =>
        GlobalPixel(z, p.gx >> (maxZoom - z), p.gy >> (maxZoom - z), p.users, p.trips)
      }
    }
  }
}
