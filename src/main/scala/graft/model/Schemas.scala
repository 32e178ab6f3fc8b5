package graft.model

/**
 * Engine row types (one case class per relation; Spark Encoders derive from
 * these). The pixel relations re-express the reference's sparse grids
 * (`/root/reference/src/HeatMap.Tiles/HeatMapTile.cs:17-83`,
 * `Diffs/HeatMapDiff.cs:11-110`) as relations of non-zero pixels: sparsity
 * is structural because only touched pixels become rows.
 */
object Schemas {

  /** Synthesized Iceberg-shaped input row (BASELINE.json input_hint). */
  final case class ImageRow(
      image_id: String,
      bytes: Array[Byte],
      w: Int,
      h: Int,
      fmt: String,
      caption: String,
      phash: Long)

  /** A GPS track: the contribution stream row
    * (`/root/reference/src/HeatMap.Tiles.Service/Db.cs:39-64`);
    * coords = Array[Array(lon, lat)]. */
  final case class Track(
      contribution_id: Long,
      user_id: Long,
      coords: Array[Array[Double]])

  /** Raw rasterizer emission: pkey = gx << 32 | gy. Primitive fields —
    * no per-row boxing in the hot flatMap. */
  final case class PixelVisit(user_id: Long, pkey: Long, trips: Long)

  /** Tile-grain rasterizer emission: one row per (track × touched tile).
    * tkey = tx << 32 | ty; each pixels element packs localPix << 32 | trips
    * (x-major localPix = lx·res + ly). The input of the tile-grain
    * aggregate — ~100× fewer rows than PixelVisit through the exchange. */
  final case class TileVisit(user_id: Long, tkey: Long, pixels: Array[Long])

  /** A fully aggregated z14 tile in one flat layout: cell i is local pixel
    * `cells(i)` (x-major lx·res + ly, ascending) with exact distinct
    * `users(i)` and trip sum `trips(i)` — every cell, before the k HAVING.
    * The post-aggregate, pre-explode relation the flagship derives both the
    * z14 layer and the pyramid from; no per-cell objects. */
  final case class TileCells(tkey: Long, cells: Array[Int], users: Array[Long], trips: Array[Long])

  /** Global heatmap pixel at one zoom (post count-distinct / rollup). */
  final case class GlobalPixel(z: Int, gx: Long, gy: Long, users: Long, trips: Long)

  /** An encoded vector tile. */
  final case class MvtTile(z: Int, tx: Long, ty: Long, mvt: Array[Byte])
}
