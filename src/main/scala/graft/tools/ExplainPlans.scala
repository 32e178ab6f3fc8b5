package graft.tools
import org.apache.spark.sql.SparkSession
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.spark.Sessions.local(8, "explain")
    val tracks = graft.queries.GraftQueries.eventTracks(spark, "/root/testdata/sf0.001")
    println("=== tiled z14 (flagship: ONE exchange of per-tile buffers) ===")
    val tc = graft.agg.HeatmapAgg.tileCells(graft.raster.Rasterize.tileVisits(tracks))
    graft.agg.HeatmapAgg.cellsToPixels(tc).explain("formatted")
    println("=== pyramid (tile-local rollup + one merge shuffle) ===")
    graft.agg.Pyramid.lowerLevelsFromTiles(tc, graft.agg.HeatmapAgg.KAnonymity).explain("formatted")
    println("=== events scan pruning ===")
    graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .where(org.apache.spark.sql.functions.col("event_id") > 100)
      .select("event_id", "user_id").explain("formatted")
    println("=== pip join ===")
    graft.geo.SpatialJoins.pointInRegion(
      graft.queries.GraftQueries.eventPoints(spark, "/root/testdata/sf0.001"),
      graft.queries.GraftQueries.TestRegions).explain("formatted")
    spark.stop()
  }
}
