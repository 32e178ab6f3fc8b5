package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.TileCells

/** The shared tile-relation dump is keyed by its cell layout as well as by
  * its sf dir: a dump another layout wrote must be rewritten, not misread. */
class CellsDumpSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(2, "cells-dump-spec")

  test("cellsDump rewrites a dump in another cell layout whose marker names the same sf dir") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // a small sf dir of its own: the events table is all eventTracks reads
    val sf = tempDir("cells-dump-sf")
    (0L until 200L).map(i => (i, i % 8)).toDF("event_id", "user_id")
      .write.parquet(s"$sf/events.parquet")
    val path = GraftQueries.CellsDumpPath
    val marker = java.nio.file.Paths.get(path + ".source")
    // the array<struct<pix, users, trips>> layout, with a marker that names
    // only the sf dir: what a writer of that layout left behind
    val oldLayout = StructType(Seq(
      StructField("tkey", LongType),
      StructField("cells", ArrayType(StructType(Seq(
        StructField("pix", IntegerType), StructField("users", LongType),
        StructField("trips", LongType)))))))
    s.createDataFrame(java.util.List.of(Row(42L, Seq(Row(1, 5L, 7L)))), oldLayout)
      .write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(marker, sf.getBytes("UTF-8"))

    val got = GraftQueries.cellsDump(s, sf).collect()
      .map(t => (t.tkey, t.cells.toSeq, t.users.toSeq, t.trips.toSeq)).sortBy(_._1)
    val layout = org.apache.spark.sql.Encoders.product[TileCells].schema.catalogString
    assert(s.read.parquet(path).schema.catalogString === layout)
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").contains(layout))
    val want = graft.agg.HeatmapAgg.tileCells(
        graft.raster.Rasterize.tileVisits(GraftQueries.eventTracks(s, sf))).collect()
      .map(t => (t.tkey, t.cells.toSeq, t.users.toSeq, t.trips.toSeq)).sortBy(_._1)
    assert(want.nonEmpty)
    assert(got.toSeq === want.toSeq)
  }
}
