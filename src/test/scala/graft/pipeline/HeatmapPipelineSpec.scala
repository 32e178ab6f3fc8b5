package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecOracle
import graft.agg.HeatmapAgg
import graft.core.MvtCodec
import graft.model.Schemas._
import graft.mvt.MvtJobs
import graft.raster.Rasterize
import graft.synth.{ImageSynth, TraceSynth}

/**
 * Golden e2e test (SURVEY.md §5.2): the distributed pipeline must equal the
 * single-threaded executable-spec oracle on (a) pixel assignments,
 * (b) trip counts, (c) distinct-user counts, (d) k-anonymity filtering,
 * (e) all 15 zoom levels, (f) MVT feature payloads.
 */
class HeatmapPipelineSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "pipeline-spec")

  private val N = 300
  private lazy val testTracks: Seq[Track] = (0L until N).map { i =>
    val ph = ImageSynth.phashOf(i)
    Track(i, TraceSynth.userOf(ph, HeatmapPipeline.DefaultUsers), TraceSynth.trace(ph))
  }

  private lazy val oracleUsers = SpecOracle.userHeatmaps(testTracks, 14, 512)
  private lazy val oracleZ14 = SpecOracle.globalZ14(oracleUsers, HeatmapAgg.KAnonymity)
  private lazy val oraclePyr = SpecOracle.pyramid(oracleZ14)

  private lazy val result: HeatmapPipeline.HeatmapResult = {
    implicit val s: SparkSession = spark
    import s.implicits._
    HeatmapPipeline.run(s.createDataset(testTracks))
  }

  test("user-grain pixels match the oracle exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset(testTracks)
    // two commits whose (tkey, user) keys overlap, so `TileBuffer.mergeRuns`
    // joins the second window's runs onto the first window's stored ones
    val half = N / 2
    def keys(ds: org.apache.spark.sql.Dataset[Track]) =
      Rasterize.tileVisits(ds).map(v => (v.tkey, v.user_id)).collect().toSet
    assert((keys(tracks.where($"contribution_id" < half)) &
      keys(tracks.where($"contribution_id" >= half))).nonEmpty)
    val store = new graft.io.TileStore(tempDir("user-tiles"))
    assert(Incremental.runToLatest(store, tracks, latestId = N - 1, maxContributions = half).size === 2)
    val res = Rasterize.Resolution
    val got = store.read("user_tiles", Some(Incremental.userTilesSchemaP)).get
      .select("user_id", "tkey", "pixels").as[(Long, Long, Array[Long])].collect()
      .flatMap { case (user, tkey, pixels) =>
        pixels.map { p =>
          val pix = p >>> 32
          ((user, (tkey >>> 32) * res + pix / res, (tkey & 0xFFFFFFFFL) * res + pix % res),
            p & 0xFFFFFFFFL)
        }
      }
    val want = oracleUsers.flatMap { case (u, m) =>
      m.map { case ((gx, gy), t) => ((u, gx, gy), t) }
    }
    assert(got.length === want.size) // one stored entry per (user, pixel)
    assert(got.toMap === want)
  }

  test("z14 global layer matches: users, trips, k-anonymity") {
    assert(oracleZ14.nonEmpty, "synthetic world must produce >=3-user pixels")
    val got = result.z14.collect().map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    assert(got === oracleZ14)
    assert(got.valuesIterator.forall(_._1 >= HeatmapAgg.KAnonymity))
  }

  test("all 15 pyramid levels match the oracle") {
    val got = result.pyramid.collect()
      .groupBy(_.z)
      .view.mapValues(_.map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap).toMap
    assert(got.keySet === (0 to 14).toSet)
    (0 to 14).foreach { z =>
      assert(got(z) === oraclePyr(z), s"zoom $z mismatch")
    }
  }

  test("tracksDirect equals the image-derived track path (graft consistency)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val direct = HeatmapPipeline.tracksDirect(20).collect().sortBy(_.contribution_id)
    val viaImages = HeatmapPipeline.tracks(HeatmapPipeline.images(20)).collect().sortBy(_.contribution_id)
    direct.zip(viaImages).foreach { case (a, b) =>
      assert(a.user_id === b.user_id)
      assert(a.coords.map(_.toSeq).toSeq === b.coords.map(_.toSeq).toSeq)
    }
  }

  test("MVT blobs decode back to the oracle's pixel payloads") {
    implicit val s: SparkSession = spark
    val tiles = MvtJobs.encodeLowerFused(result.z14).collect()
    assert(tiles.nonEmpty)
    val res = 512
    tiles.foreach { t =>
      val feats = MvtCodec.decodeTile(t.mvt)
      assert(feats.nonEmpty) // empty tiles must not be emitted (F6)
      feats.foreach { case (ex, ey, users, trips) =>
        // reference-stack placement: linear pixel→lon/lat then Mercator
        // quantization — both coords land sub-pixel off the linear grid;
        // recover the pixel by nearest-grid rounding
        val px = math.round(ex / 8.0)
        val py = math.round(ey / 8.0)
        assert(math.abs(ex - px * 8) <= 1)
        assert(math.abs(ey - py * 8) < 8, s"y not sub-pixel: $ey vs ${py * 8}")
        val gx = t.tx * res + px
        val gy = t.ty * res + py
        assert(oracleZ14.get((gx, gy)).contains((users, trips)),
          s"tile (${t.tx},${t.ty}) pixel ($gx,$gy)")
        // and the placement is EXACTLY the two-step reference transform
        assert((ex, ey) === {
          val (a, b) = graft.core.WebMercator.extentCoords(
            14, t.tx, t.ty, px.toInt, py.toInt, res, MvtCodec.Extent)
          (a, b)
        })
      }
    }
    // feature counts must cover every oracle pixel
    val totalFeats = tiles.map(t => MvtCodec.decodeTile(t.mvt).size).sum
    assert(totalFeats === oracleZ14.size)
  }

  test("mvtAll (narrow z14 from tile cells) is byte-equal to mvt(pyramid)") {
    implicit val s: SparkSession = spark
    val viaPyramid = MvtJobs.encodeLowerFused(result.pyramid).collect()
      .map(t => ((t.z, t.tx, t.ty), t.mvt.toSeq)).toMap
    val viaTiles = HeatmapPipeline.mvtAll(result).collect()
      .map(t => ((t.z, t.tx, t.ty), t.mvt.toSeq)).toMap
    assert(viaPyramid.nonEmpty)
    assert(viaTiles.keySet === viaPyramid.keySet)
    viaTiles.foreach { case (key, bytes) =>
      assert(bytes === viaPyramid(key), s"tile $key bytes differ")
    }
  }

  test("tile relation parquet round-trip: z14 + lower MVTs byte-equal") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tc = result.tiles
    val dir = tempDir("tile-cells")
    tc.toDF().write.mode("overwrite").parquet(dir)
    val read = s.read.parquet(dir).as[TileCells]
    val k = result.k
    def bytesOf(ds: org.apache.spark.sql.Dataset[MvtTile]) =
      ds.collect().map(t => ((t.z, t.tx, t.ty), t.mvt.toSeq)).toMap
    val z14Cached = bytesOf(MvtJobs.encodeZ14FromTileCells(tc, k))
    val z14Read = bytesOf(MvtJobs.encodeZ14FromTileCells(read, k))
    assert(z14Read.nonEmpty && z14Read === z14Cached)
    val lowerCached = bytesOf(MvtJobs.encodeLowerFused(graft.agg.Pyramid.lowerLevelsFromTiles(tc, k)))
    val lowerRead = bytesOf(MvtJobs.encodeLowerFused(graft.agg.Pyramid.lowerPartials(read, k)))
    assert(lowerRead.nonEmpty && lowerRead === lowerCached)
  }

  test("MVT filesystem sink writes the reference's {z}/{x}/{y}.mvt layout") {
    implicit val s: SparkSession = spark
    val out = tempDir("mvt-sink")
    val tiles = MvtJobs.encodeLowerFused(result.z14)
    MvtJobs.writeMvtFiles(tiles, out)
    val want = tiles.collect()
    assert(want.nonEmpty)
    want.foreach { t =>
      val f = java.nio.file.Paths.get(out, t.z.toString, t.tx.toString, s"${t.ty}.mvt")
      assert(java.nio.file.Files.exists(f), f.toString)
      assert(java.nio.file.Files.readAllBytes(f).toSeq === t.mvt.toSeq)
    }
  }

  test("k-anonymity: raising k strictly shrinks (or keeps) the surviving pixel set") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset(testTracks)
    def kept(k: Int): Long = {
      val r = HeatmapPipeline.run(tracks, k)
      try r.z14.count() finally r.release()
    }
    val k5 = kept(5)
    val k3 = kept(3)
    val k1 = kept(1)
    assert(k5 <= k3 && k3 <= k1)
    assert(k1 === oracleUsers.values.flatMap(_.keys).toSet.size)
  }

  test("F6: encodeLowerFused writes no feature for a position summing to users = 0, no tile for an all-zero tile") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val res = Rasterize.Resolution
    def px(z: Int, tx: Long, ty: Long, lx: Long, ly: Long, users: Long, trips: Long) =
      GlobalPixel(z, tx * res + lx, ty * res + ly, users, trips)
    val live = Seq(
      px(14, 8374, 5556, 3, 4, 3, 9),
      px(14, 8374, 5556, 7, 1, 2, 2), px(14, 8374, 5556, 7, 1, 2, 5), // two partials, one feature
      px(10, 523, 347, 100, 200, 4, 4))
    val zeroed = Seq(
      px(14, 8374, 5556, 3, 5, 2, 6), px(14, 8374, 5556, 3, 5, -2, -6), // partials sum to 0
      px(14, 8374, 5556, 9, 9, 0, 7),                                   // users = 0 row
      px(13, 4187, 2778, 1, 1, 5, 5), px(13, 4187, 2778, 1, 1, -5, -5), // tile of zeros only
      px(13, 4187, 2778, 2, 2, 0, 0))
    def bytesOf(rows: Seq[GlobalPixel]) = MvtJobs.encodeLowerFused(s.createDataset(rows).repartition(3))
      .collect().map(t => ((t.z, t.tx, t.ty), t.mvt.toSeq)).toMap
    val got = bytesOf(live ++ zeroed)
    assert(got.keySet === Set((14, 8374L, 5556L), (10, 523L, 347L)), "an all-zero tile was written")
    assert(got === bytesOf(live), "a zero-user position changed a tile's bytes")
    val feats = MvtCodec.decodeTile(got((14, 8374L, 5556L)).toArray)
    assert(feats.map { case (_, _, u, t) => (u, t) }.toSet === Set((3L, 9L), (4L, 7L)))
  }
}
