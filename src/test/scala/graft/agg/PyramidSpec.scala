package graft.agg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.GlobalPixel

/** The single-shuffle ancestor-explode pyramid must equal the iterative
  * 14-step 2×2 rollup cascade exactly. */
class PyramidSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "pyramid-spec")

  /** One level: z → z-1. */
  private def rollupOne(level: Dataset[GlobalPixel])(implicit spark: SparkSession): Dataset[GlobalPixel] = {
    import spark.implicits._
    level
      .groupBy(($"z" - 1).as("z"),
        shiftright($"gx", 1).as("gx"), shiftright($"gy", 1).as("gy"))
      .agg(sum($"users").as("users"), sum($"trips").as("trips"))
      .select($"z".cast("int").as("z"), $"gx", $"gy", $"users", $"trips")
      .as[GlobalPixel]
  }

  /** The oracle: all levels z14 (input) down to z0 via iterative per-level
    * rollup — the semantics-defining form. */
  private def allLevelsIterative(z14: Dataset[GlobalPixel])(
      implicit spark: SparkSession): Dataset[GlobalPixel] = {
    var persisted = List.empty[Dataset[GlobalPixel]]
    var levels = List(z14)
    var current = z14
    var z = graft.raster.Rasterize.Zoom
    while (z > 0) {
      current = rollupOne(current)
      current.persist()
      persisted ::= current
      levels ::= current
      z -= 1
    }
    // materialize eagerly (localCheckpoint also truncates the 15-deep union
    // lineage that OOMs AQE plan stringification), then release every level
    val out = levels.reverse.reduce(_ union _).localCheckpoint(true)
    persisted.foreach(_.unpersist())
    out
  }

  test("exploded pyramid == iterative pyramid on seeded random pixels") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rnd = new java.util.Random(99)
    val pixels = (1 to 20000).map { _ =>
      GlobalPixel(14, (rnd.nextDouble() * (16384L * 512)).toLong,
        (rnd.nextDouble() * (16384L * 512)).toLong,
        1 + rnd.nextInt(5), 1 + rnd.nextInt(100))
    }
    val z14 = s.createDataset(pixels)
      .groupBy($"z", $"gx", $"gy")
      .agg(sum($"users").as("users"), sum($"trips").as("trips"))
      .as[GlobalPixel]
    val a = Pyramid.allLevels(z14).collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    val b = allLevelsIterative(z14).collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(a.size === b.size)
    assert(a === b)
  }
}
