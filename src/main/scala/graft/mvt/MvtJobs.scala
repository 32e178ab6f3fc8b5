package graft.mvt

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.MvtCodec
import graft.model.Schemas.{GlobalPixel, MvtTile}

/**
 * MVT export: pixel relation → one .mvt blob per (z, tx, ty) tile.
 *
 * Re-expresses `/root/reference/src/HeatMap.Tiles/IO/VectorTiles/
 * HeatMapExtensions.cs:22-81` + `Worker.cs:257-279`: features are the
 * non-zero pixels with users > 0 (F6); empty tiles are dropped. Two
 * encoders, one per input shape: z14 tiles encode NARROW from the flat
 * `TileCells` layout (`encodeZ14FromTileCells`), and every other pixel
 * relation goes through the one group-per-tile encoder
 * (`encodeLowerFused`). A tile holds at most res² = 262,144 pixels so no
 * group can exceed a few MB — safely within executor memory at any data
 * scale.
 *
 * Placement reproduces the REFERENCE STACK's formulas: linear pixel →
 * lon/lat (TileGeometryTransform.TransformTo), then the external Mapbox
 * writer's true-Mercator quantization onto the extent grid
 * (WebMercator.extentCoords). Caveat: the external NTS writer's exact
 * float-op ORDER is not verifiable in this sandbox (no captured NTS
 * output), so placement may differ by ±1 extent unit (≈0.1 % of a pixel)
 * where a coordinate lands within 1 ulp of an integer boundary — see
 * WebMercator.TilePlacer.
 */
object MvtJobs {
  val Resolution = graft.raster.Rasterize.Resolution

  /** Write tiles as the reference's on-disk layout {out}/{z}/{x}/{y}.mvt
    * (Worker.cs:270-278, HeatMap.cs:148) — distributed foreachPartition,
    * one file per tile, executor-local I/O. The one sink for every export:
    * the flagship's one-shot tree and the service's full and dirty-tile
    * exports all write through here. */
  def writeMvtFiles(tiles: Dataset[MvtTile], outDir: String): Unit = {
    tiles.foreachPartition { (it: Iterator[MvtTile]) =>
      it.foreach { t =>
        val dir = java.nio.file.Paths.get(outDir, t.z.toString, t.tx.toString)
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(s"${t.ty}.mvt"), t.mvt)
      }
    }
  }

  /** z14 MVTs straight from the aggregated tile relation — NARROW: a tile
    * row already holds its cells sorted by pix (x-major, the reference's
    * block-walk order), so no exchange is needed at all. Byte-identical to
    * routing the same pixels through `encodeLowerFused`
    * (HeatmapPipelineSpec). */
  def encodeZ14FromTileCells(tc: Dataset[graft.model.Schemas.TileCells], k: Int,
                             resolution: Int = Resolution)(
      implicit spark: SparkSession): Dataset[MvtTile] = {
    import spark.implicits._
    val res = resolution
    tc.flatMap(t => encodeOneZ14(t.tkey, t.cells, t.users, t.trips, k, res))
  }

  /** The z14 tile-encode kernel over one tile's flat cell arrays: filter
    * by k, place, stream-encode — single pass, primitive buffers only.
    * Cells arrive sorted by pix (x-major), which is the feature order the reference walks.
    * `private[graft]`: also driven as a driver-side loop by the
    * q_hm_mvt_tiles oracle dump (same kernel, different execution path). */
  private[graft] def encodeOneZ14(tkey: Long, cells: Array[Int], users: Array[Long],
                                  trips: Array[Long], k: Int, res: Int): Iterator[MvtTile] = {
    val tx = tkey >>> 32
    val ty = tkey & 0xFFFFFFFFL
    val zoom = graft.raster.Rasterize.Zoom
    val placer = graft.core.WebMercator.placer(zoom, tx, ty, res, MvtCodec.Extent)
    val n = cells.length
    val ex = new Array[Long](n); val ey = new Array[Long](n)
    val fu = new Array[Long](n); val ft = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val u = users(i)
      if (u >= k) {
        val p = cells(i)
        ex(m) = placer.ex(p / res); ey(m) = placer.ey(p % res)
        fu(m) = u; ft(m) = trips(i)
        m += 1
      }
      i += 1
    }
    if (m == 0) Iterator.empty
    else Iterator.single(MvtTile(zoom, tx, ty, MvtCodec.encodeTilePoints(m, ex, ey, fu, ft)))
  }

  /** The group-per-tile encoder: ONE exchange keyed by (z, tx, ty), then
    * each tile's rows are summed per position and encoded. Takes merged
    * pixels (the service's `global` relation, one row per position) or
    * unmerged partials (`Pyramid.lowerPartials`: the sibling-partial merge
    * that a separate pixel-grain groupBy would do in its own exchange
    * happens inside the tile group instead — partials for a tile land on
    * one reducer anyway). F6: a position whose summed users are not > 0
    * writes no feature, and a tile left with no feature writes no blob.
    * Partials of `lowerPartials` encode byte-identical to the merged
    * `lowerLevelsFromTiles` rows (HeatmapPipelineSpec). The positions go
    * to `encodeOneTile` in map order; it sorts them once. */
  def encodeLowerFused(partials: Dataset[GlobalPixel],
                       resolution: Int = Resolution)(
      implicit spark: SparkSession): Dataset[MvtTile] = {
    import spark.implicits._
    val res = resolution
    partials
      .groupByKey(p => (p.z, p.gx / res, p.gy / res))
      .flatMapGroups { (key: (Int, Long, Long), rows: Iterator[GlobalPixel]) =>
        val (z, tx, ty) = key
        val users = new scala.collection.mutable.LongMap[Long](1024)
        val trips = new scala.collection.mutable.LongMap[Long](1024)
        rows.foreach { p =>
          val pos = (p.gx % res) * res + (p.gy % res)
          users.update(pos, users.getOrElse(pos, 0L) + p.users)
          trips.update(pos, trips.getOrElse(pos, 0L) + p.trips)
        }
        val pos = new Array[Long](users.size)
        val us = new Array[Long](users.size); val tr = new Array[Long](users.size)
        var n = 0
        users.foreachEntry { (p, u) =>
          if (u > 0) { pos(n) = p; us(n) = u; tr(n) = trips(p); n += 1 }
        }
        if (n == 0) Iterator.empty
        else Iterator.single(encodeOneTile(z, tx, ty, n, pos, us, tr, res))
      }
  }

  /** Encode one tile from position-keyed counters: sort x-major (pos =
    * px·res + py ascending — the reference's block-walk order,
    * HeatMapTile.cs:94-112), place, stream-encode. */
  private[graft] def encodeOneTile(z: Int, tx: Long, ty: Long, n: Int,
                            pos: Array[Long], us: Array[Long], tr: Array[Long],
                            res: Int): MvtTile = {
    // sort the three parallel arrays by pos: pack pos (≤ res² < 2^24 bits)
    // with the source index, sort the packed keys, then gather
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) { packed(i) = (pos(i) << 32) | i.toLong; i += 1 }
    java.util.Arrays.sort(packed)
    val placer = graft.core.WebMercator.placer(z, tx, ty, res, MvtCodec.Extent)
    val ex = new Array[Long](n); val ey = new Array[Long](n)
    val fu = new Array[Long](n); val ft = new Array[Long](n)
    i = 0
    while (i < n) {
      val p = packed(i) >>> 32
      val src = (packed(i) & 0xFFFFFFFFL).toInt
      val px = (p / res).toInt; val py = (p % res).toInt
      ex(i) = placer.ex(px); ey(i) = placer.ey(py)
      fu(i) = us(src); ft(i) = tr(src)
      i += 1
    }
    MvtTile(z, tx, ty, MvtCodec.encodeTilePoints(n, ex, ey, fu, ft))
  }
}
