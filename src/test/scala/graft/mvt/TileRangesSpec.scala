package graft.mvt

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.MvtTile

/** Histogram-sized range partitioning: balanced under urban skew AND
  * spatially contiguous — neither plain hash nor key-uniform ranges give
  * both. The skew case deliberately packs the hot bytes into ONE base-grain
  * cell so the adaptive quadtree refinement is what earns the balance. */
class TileRangesSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "tileranges-spec")

  /** Skewed synthetic tile map: a 16x16 "urban core" of fat tiles holding
    * ~80 % of the bytes inside ONE z7 cell, plus a sparse world of thin
    * tiles. */
  private def skewedTiles(implicit s: SparkSession) = {
    import s.implicits._
    val hot = for (dx <- 0 until 16; dy <- 0 until 16)
      yield MvtTile(14, 8320L + dx, 5440L + dy, new Array[Byte](4000))
    val cold = for (i <- 0 until 640)
      yield MvtTile(14, (i * 23) % 16000L, (i * 41) % 16000L, new Array[Byte](50))
    s.createDataset(hot ++ cold)
  }

  test("boundaries equalize observed weight; rangeId is a monotone binary search") {
    def cell(s: Long, w: Long) = TileRanges.Cell(s, s + 9, w, 7)
    val hist = Array(cell(10L, 100L), cell(30L, 100L), cell(50L, 100L), cell(70L, 100L))
    val bounds = TileRanges.boundaries(hist, 4)
    assert(bounds.toSeq === Seq(19L, 39L, 59L))
    assert(TileRanges.rangeId(5L, bounds) === 0)
    assert(TileRanges.rangeId(19L, bounds) === 0) // boundary inclusive
    assert(TileRanges.rangeId(20L, bounds) === 1)
    assert(TileRanges.rangeId(60L, bounds) === 3)
    assert(TileRanges.boundaries(Array.empty, 4).isEmpty)
    assert(TileRanges.boundaries(hist, 1).isEmpty)
  }

  test("adaptive histogram refines the hot cell; balanced() beats key-uniform ranges; contiguous") {
    implicit val s: SparkSession = spark
    val tiles = skewedTiles
    tiles.persist()
    val nParts = 8

    // the quadtree refinement actually fires: the base z7 grain holds the
    // whole core in one cell; the final histogram must carry finer cells
    val hist = TileRanges.adaptiveHistogram(tiles, nParts)
    assert(hist.exists(_.zoom > 7), s"no refinement happened: ${hist.toSeq.take(5)}")
    val total = tiles.collect().map(_.mvt.length.toLong).sum
    assert(hist.map(_.weight).sum === total, "histogram lost or double-counted bytes")

    val out = TileRanges.balanced(tiles, nParts)
    val weights = out.rdd
      .mapPartitions(it => Iterator.single(it.map(_.mvt.length.toLong).sum))
      .collect()
    assert(weights.sum === total, "no tile lost or duplicated")
    val ideal = total.toDouble / nParts
    assert(weights.max <= ideal * 2.5,
      s"max ${weights.max} vs ideal $ideal: ${weights.toSeq}")

    // CONTRAST - key-uniform boundaries (no observed histogram): equal
    // spans of key space put the hot core in one range
    val keys = tiles.collect().map(t =>
      (TileRanges.alignedKey(t.z, t.tx, t.ty), t.mvt.length.toLong))
    val (kMin, kMax) = (keys.map(_._1).min, keys.map(_._1).max)
    val span = (kMax - kMin) / nParts + 1
    val uniformWeights = keys.groupBy { case (k, _) => ((k - kMin) / span).toInt }
      .map(_._2.map(_._2).sum)
    assert(uniformWeights.max > ideal * 2.5,
      "key-uniform ranges should be skewed on this input - otherwise the test proves nothing")

    // contiguity: per-partition aligned-key intervals do not overlap
    val intervals = out.rdd.mapPartitionsWithIndex { (pid, it) =>
      val ks = it.map(t => TileRanges.alignedKey(t.z, t.tx, t.ty)).toSeq
      if (ks.isEmpty) Iterator.empty else Iterator.single((pid, ks.min, ks.max))
    }.collect().sortBy(_._2)
    intervals.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2, "ranges overlap")
      case _ =>
    }
    tiles.unpersist()
  }

  test("balanced sink writes a byte-identical file tree to the plain sink") {
    implicit val s: SparkSession = spark
    val tiles = skewedTiles.persist()
    val base = java.nio.file.Paths.get(tempDir("tileranges-sink"))
    val plainDir = base.resolve("plain").toString
    val balDir = base.resolve("balanced").toString
    MvtJobs.writeMvtFiles(tiles, plainDir)
    MvtJobs.writeMvtFiles(tiles, balDir, balanceParts = Some(8))
    tiles.unpersist()

    def tree(root: String): Map[String, Seq[Byte]] = {
      val r = java.nio.file.Paths.get(root)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(r).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => r.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    }
    val (plain, bal) = (tree(plainDir), tree(balDir))
    assert(plain.nonEmpty && plain === bal,
      s"trees differ: only-plain=${(plain.keySet -- bal.keySet).take(3)} " +
        s"only-balanced=${(bal.keySet -- plain.keySet).take(3)}")
  }
}
