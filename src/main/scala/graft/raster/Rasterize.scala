package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.RasterKernel
import graft.model.Schemas.{PixelVisit, TileVisit, Track}

/**
 * Distributed rasterization: `Dataset[Track]` → per-track pixel visits, at
 * tile grain (`tileVisits`, the flagship's and the service's input) or
 * pixel grain (`pixelKeys`, the catalog queries' raw raster relation).
 *
 * The typed flatMap is the engine's UDTF surface for the reference's
 * Bresenham draw loop (`/root/reference/src/HeatMap.Tiles/Draw/Bresenhams.cs:8-37`,
 * `Draw/HeatMapDiffExtensions.cs:35-60`). It is a NARROW transformation:
 * each track rasterizes independently and pre-aggregates its own pixel
 * counts (map-side combine inside the kernel), so the only shuffle the
 * heatmap needs afterwards is the per-tile aggregation. At 100 TB
 * this stage scales embarrassingly — no data exchange, CPU-bound, JVM-typed
 * (Encoders), and the output grain is (track × touched-pixel), bounded by
 * track length, never by world size.
 */
object Rasterize {
  val Zoom = 14
  val Resolution = 512

  /** Pixel-grain form: (user_id, pkey = gx<<32|gy, trips) — 3 longs per
    * row; the pixel key splits back into coordinates only after
    * aggregation. */
  def pixelKeys(tracks: Dataset[Track], zoom: Int = Zoom, resolution: Int = Resolution)(
      implicit spark: SparkSession): Dataset[PixelVisit] = {
    import spark.implicits._
    tracks.flatMap { t =>
      val acc = RasterKernel.rasterize(t.coords, zoom, resolution)
      acc.iterator.map { case (key, trips) => PixelVisit(t.user_id, key, trips) }
    }
  }

  /** Tile-grain form feeding the single-exchange `TileUsersAgg` plan: one
    * row per (track × touched tile) — ~2 orders of magnitude fewer exchange
    * rows than per-pixel emission, because a track's pixels within a tile
    * ride as one packed Long array. The per-track pass packs
    * (tx, ty, localPix, trips) into one u64 per pixel and sorts — tile runs
    * come out contiguous with pixels ascending, no per-pixel object churn.
    * Bit budget (asserted): tx/ty ≤ 14 bits each (zoom ≤ 14), localPix ≤ 20
    * bits (resolution ≤ 1024), trips ≤ 16 bits (per-track per-pixel visit
    * counts are bounded by the track's segment count). */
  def tileVisits(tracks: Dataset[Track], zoom: Int = Zoom, resolution: Int = Resolution)(
      implicit spark: SparkSession): Dataset[TileVisit] = {
    require(zoom <= 14 && resolution <= 1024 && Integer.bitCount(resolution) == 1,
      s"tileVisits packing supports zoom<=14, power-of-two resolution<=1024; got z=$zoom res=$resolution")
    import spark.implicits._
    val shift = Integer.numberOfTrailingZeros(resolution)
    tracks.flatMap { t =>
      val acc = RasterKernel.rasterize(t.coords, zoom, resolution)
      if (acc.isEmpty) Iterator.empty
      else {
        val n = acc.size
        val arr = new Array[Long](n)
        var i = 0
        acc.foreach { case (key, trips) =>
          val gx = key >>> 32
          val gy = key & 0xFFFFFFFFL
          val tx = gx >> shift
          val ty = gy >> shift
          val pix = ((gx - (tx << shift)) << shift) + (gy - (ty << shift)) // lx*res + ly
          require(trips <= 0xFFFFL, s"per-track pixel count $trips overflows 16-bit pack")
          arr(i) = (tx << 50) | (ty << 36) | (pix << 16) | trips
          i += 1
        }
        java.util.Arrays.sort(arr)
        val out = scala.collection.mutable.ArrayBuffer.empty[TileVisit]
        var s = 0
        while (s < n) {
          val tile = arr(s) >>> 36 // tx<<14 | ty
          var e = s
          while (e < n && (arr(e) >>> 36) == tile) e += 1
          val px = new Array[Long](e - s)
          var j = s
          while (j < e) {
            px(j - s) = (((arr(j) >>> 16) & 0xFFFFFL) << 32) | (arr(j) & 0xFFFFL)
            j += 1
          }
          out += TileVisit(t.user_id, ((tile >>> 14) << 32) | (tile & 0x3FFFL), px)
          s = e
        }
        out.iterator
      }
    }
  }
}
