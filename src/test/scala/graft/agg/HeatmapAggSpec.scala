package graft.agg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.{PixelVisit, Track}
import graft.raster.Rasterize
import graft.synth.{ImageSynth, TraceSynth}

/** Tile-grain == fused == cascade: every k-anonymity plan is exact, and the
  * tile kernel (`TileUsersAgg`) holds against an in-memory oracle. */
class HeatmapAggSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "agg-spec")

  private def raster(implicit s: SparkSession) = {
    import s.implicits._
    val tracks = s.createDataset((0L until 250L).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 8), TraceSynth.trace(ph))
    })
    Rasterize.pixelKeys(tracks)
  }

  test("tile-grain TileUsersAgg plan == fused count-distinct plan (the flagship path)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset((0L until 250L).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 8), TraceSynth.trace(ph))
    })
    val fused = AggOracle.globalGrainFused(Rasterize.pixelKeys(tracks)).collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    val tiled = HeatmapAgg.cellsToPixels(HeatmapAgg.tileCells(Rasterize.tileVisits(tracks))).collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(fused.nonEmpty)
    assert(tiled === fused)
  }

  test("TileBuffer kernel: dedup, merge, zero user id, serialization round-trip") {
    val a = new graft.functions.TileBuffer()
    a.addRow(0L, Array((7L << 32) | 3L, (9L << 32) | 1L)) // user 0: pix 7 (+3), pix 9 (+1)
    a.addRow(1L, Array((7L << 32) | 2L))                  // user 1: pix 7 (+2)
    a.addRow(0L, Array((7L << 32) | 5L))                  // user 0 again: no new distinct
    val b = new graft.functions.TileBuffer()
    b.addRow(2L, Array((7L << 32) | 1L, (11L << 32) | 4L))
    val ser = graft.functions.TileBuffer.deserialize(b.serialize())
    a.mergeFrom(ser)
    val (pix, users, trips) = a.cells()
    assert(pix.length === users.length && users.length === trips.length)
    // sorted by pix, users and trips at the same position
    assert(pix.toSeq === Seq(7, 9, 11))
    assert(users.toSeq === Seq(3L, 1L, 1L))
    assert(trips.toSeq === Seq(11L, 1L, 4L))
  }

  private def cellsOf(b: graft.functions.TileBuffer) = {
    val (pix, users, trips) = b.cells()
    (pix.toSeq, users.toSeq, trips.toSeq)
  }

  test("TileBuffer round-trip: empty buffer and user ids 0, -1, Long.MinValue, Long.MaxValue") {
    import graft.functions.TileBuffer
    val empty = TileBuffer.deserialize(new TileBuffer().serialize())
    assert(empty.runs.isEmpty && empty.entries === 0)
    assert(cellsOf(empty) === ((Seq.empty, Seq.empty, Seq.empty)))
    val ids = Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    val b = new TileBuffer()
    ids.zipWithIndex.foreach { case (u, i) =>
      b.addRow(u, Array((5L << 32) | (i + 1), ((10L + i) << 32) | 7L))
    }
    val rt = TileBuffer.deserialize(b.serialize())
    assert(rt.entries === b.entries)
    assert(rt.runs.keys.toSet === ids.toSet)
    ids.foreach(u => assert(rt.runs(u).toSeq === b.runs(u).toSeq, s"user $u"))
    assert(cellsOf(rt) === ((Seq(5, 10, 11, 12, 13), Seq(4L, 1L, 1L, 1L, 1L), Seq(10L, 7L, 7L, 7L, 7L))))
  }

  test("TileBuffer clamps one user's trips per pixel at u32; the per-pixel sum stays Long (A3)") {
    import graft.core.Codec.U32Max
    val a = new graft.functions.TileBuffer()
    a.addRow(4L, Array((3L << 32) | (U32Max - 2), (8L << 32) | 1L))
    val b = new graft.functions.TileBuffer()
    b.addRow(4L, Array((3L << 32) | 10L))
    a.mergeFrom(graft.functions.TileBuffer.deserialize(b.serialize()))
    assert(a.runs(4L).toSeq === Seq((3L << 32) | U32Max, (8L << 32) | 1L))
    assert(cellsOf(a) === ((Seq(3, 8), Seq(1L, 1L), Seq(U32Max, 1L))))
    // a second user's trips add past u32 in the Long per-pixel sum
    a.addRow(5L, Array((3L << 32) | 6L))
    assert(cellsOf(a) === ((Seq(3, 8), Seq(2L, 1L), Seq(U32Max + 6L, 1L))))
  }

  test("TileBuffer normalizes an unsorted run: descending with repeated pixels == pre-normalized") {
    import graft.core.Codec.U32Max
    def run(ps: (Long, Long)*): Array[Long] = ps.map { case (p, t) => (p << 32) | t }.toArray
    val raw = run((9, 2), (9, 1), (7, 4), (5, 1), (5, U32Max - 1), (5, 3), (2, 6))
    val pre = run((2, 6), (5, U32Max), (7, 4), (9, 3))
    assert(graft.functions.TileBuffer.normalize(raw.clone()).toSeq === pre.toSeq)
    val a = new graft.functions.TileBuffer()
    a.addRow(1L, raw)
    a.addRow(2L, run((5, 1), (3, 1), (5, 1)))
    val b = new graft.functions.TileBuffer()
    b.addRow(1L, pre)
    b.addRow(2L, run((3, 1), (5, 2)))
    assert(cellsOf(a) === cellsOf(b))
    assert(cellsOf(a) === ((Seq(2, 3, 5, 7, 9), Seq(1L, 1L, 2L, 1L, 1L), Seq(6L, 1L, U32Max + 2L, 4L, 3L))))
  }

  test("tileVisits: packed runs reproduce pixelKeys exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset((0L until 50L).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 8), TraceSynth.trace(ph))
    })
    val res = Rasterize.Resolution
    val fromTiles = Rasterize.tileVisits(tracks).collect()
      .flatMap { tv =>
        val tx = tv.tkey >>> 32; val ty = tv.tkey & 0xFFFFFFFFL
        tv.pixels.map { p =>
          val pix = p >>> 32; val trips = p & 0xFFFFFFFFL
          ((tv.user_id, tx * res + pix / res, ty * res + pix % res), trips)
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val fromPixels = Rasterize.pixelKeys(tracks).collect()
      .map(v => ((v.user_id, v.pkey >>> 32, v.pkey & 0xFFFFFFFFL), v.trips))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(fromPixels.nonEmpty)
    assert(fromTiles === fromPixels)
  }

  test("library-default 1024-px resolution (HeatMap.cs:23): tiled == fused, nothing baked to 512") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset((0L until 150L).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 8), TraceSynth.trace(ph))
    })
    val res = 1024
    val fused = AggOracle.globalGrainFused(Rasterize.pixelKeys(tracks, resolution = res)).collect()
      .map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    val tiled = HeatmapAgg.cellsToPixels(HeatmapAgg.tileCells(
        Rasterize.tileVisits(tracks, resolution = res)), resolution = res).collect()
      .map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    assert(fused.nonEmpty)
    assert(tiled === fused)
    // 1024-grain coordinates really are finer: twice the 512-grain extent
    assert(fused.keys.map(_._1).max > 512L * 8390)
    // and the pyramid rollup holds at 1024 too (local rollup vs explode)
    val z14 = HeatmapAgg.cellsToPixels(HeatmapAgg.tileCells(
      Rasterize.tileVisits(tracks, resolution = res)), resolution = res)
    val viaTiles = z14.toDF().unionByName(
      Pyramid.lowerLevelsFromTiles(HeatmapAgg.tileCells(
        Rasterize.tileVisits(tracks, resolution = res)), HeatmapAgg.KAnonymity,
        resolution = res).toDF())
      .collect().map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val viaExplode = AggOracle.allLevels(z14).collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(viaTiles === viaExplode)
  }

  test("explicit user-grain cascade == fused plan") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val up = AggOracle.userGrain(raster.map(v =>
      AggOracle.UserPixel(v.user_id, v.pkey >>> 32, v.pkey & 0xFFFFFFFFL, v.trips)))
    val cascade = AggOracle.globalGrain(up).collect()
      .map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    val fused = AggOracle.globalGrainFused(raster).collect()
      .map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    assert(cascade === fused)
  }

  test("TileUsersAgg randomized differential vs in-memory oracle (grow + serde + merge paths)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rnd = new java.util.Random(99)
    val tkeys = Array((10L << 32) | 20L, (10L << 32) | 21L, (999L << 32) | 999L)
    val rows = (0 until 3000).map { _ =>
      val user = rnd.nextInt(40).toLong // includes user 0
      val tkey = tkeys(rnd.nextInt(tkeys.length))
      val n = 1 + rnd.nextInt(20)
      val pixels = Array.fill(n) {
        val pix = rnd.nextInt(512 * 512).toLong
        val trips = (1 + rnd.nextInt(3)).toLong
        (pix << 32) | trips
      }
      graft.model.Schemas.TileVisit(user, tkey, pixels)
    }
    // oracle: plain maps
    val trips = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val users = scala.collection.mutable.Map.empty[(Long, Long), Set[Long]]
    rows.foreach { tv =>
      tv.pixels.foreach { p =>
        val key = (tv.tkey, p >>> 32)
        trips(key) = trips.getOrElse(key, 0L) + (p & 0xFFFFFFFFL)
        users(key) = users.getOrElse(key, Set.empty) + tv.user_id
      }
    }
    // 7 partitions force partial buffers + serde + cross-partition merges
    val got = HeatmapAgg.cellsToPixels(
        HeatmapAgg.tileCells(s.createDataset(rows).repartition(7)), k = 1)
      .collect()
      .map { p =>
        val tkey = ((p.gx / 512) << 32) | (p.gy / 512)
        val pix = (p.gx % 512) * 512 + (p.gy % 512)
        ((tkey, pix), (p.users, p.trips))
      }.toMap
    assert(got.size === trips.size)
    trips.foreach { case (key, t) =>
      assert(got(key) === ((users(key).size.toLong, t)), s"cell $key")
    }
  }

  test("custom aggregates reject wrong-typed SQL at analysis time, not mid-job") {
    implicit val s: SparkSession = spark
    graft.functions.TileUsersFunctions.register(s)
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT tile_users(CAST(1 AS INT), array(1L, 2L))").collect()
    }
    // and the correctly-typed forms still analyze + run
    assert(s.sql("SELECT tile_users(1L, array(4294967296L))").collect().nonEmpty)
  }

  test("tile-users inverted index: sorted distinct users per touched tile") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val idx = HeatmapAgg.tileUsersIndex(raster).collect()
    assert(idx.nonEmpty)
    val naive = raster.collect()
      .groupBy(v => ((v.pkey >>> 32) / 512, (v.pkey & 0xFFFFFFFFL) / 512))
      .view.mapValues(_.map(_.user_id).distinct.sorted.toSeq).toMap
    idx.foreach { r =>
      val key = (r.getAs[Long]("tx"), r.getAs[Long]("ty"))
      assert(r.getAs[Seq[Long]]("users") === naive(key))
    }
    assert(idx.length === naive.size)
  }
}
