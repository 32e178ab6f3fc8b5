package graft.geo

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** WKT/GeoJSON LineString ingestion: spec-golden parses, F1/F2 drop rules,
  * and pipeline equivalence with directly-constructed tracks. */
class GeometryTextSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "geomtext-spec")

  test("WKT goldens: valid LineStrings parse, everything else is null") {
    val got = GeometryText.parseWktLineString("LINESTRING (4.35 50.85, 4.36 50.86)")
    assert(got.map(_.toSeq).toSeq === Seq(Seq(4.35, 50.85), Seq(4.36, 50.86)))
    // case-insensitive keyword, ragged whitespace
    assert(GeometryText.parseWktLineString("linestring( 1 2 ,3  4 )")
      .map(_.toSeq).toSeq === Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    assert(GeometryText.parseWktLineString("POINT (4.35 50.85)") === null)
    assert(GeometryText.parseWktLineString("POLYGON ((0 0, 1 0, 1 1, 0 0))") === null)
    assert(GeometryText.parseWktLineString("LINESTRING EMPTY") === null)
    assert(GeometryText.parseWktLineString("LINESTRING Z (1 2 3, 4 5 6)") === null)
    assert(GeometryText.parseWktLineString("LINESTRING (1 2, x y)") === null)
    assert(GeometryText.parseWktLineString(null) === null)
    // OGC: a LineString needs >= 2 points — a degenerate single-point track
    // is dropped, exactly like the reference's NTS stack would reject it
    assert(GeometryText.parseWktLineString("LINESTRING (4.35 50.85)") === null)
  }

  test("GeoJSON goldens: RFC 7946 LineStrings parse, others are null") {
    val got = GeometryText.parseGeoJsonLineString(
      """{"type":"LineString","coordinates":[[4.35,50.85],[4.36,50.86]]}""")
    assert(got.map(_.toSeq).toSeq === Seq(Seq(4.35, 50.85), Seq(4.36, 50.86)))
    // altitude dropped per RFC (2D pipeline)
    assert(GeometryText.parseGeoJsonLineString(
      """{"coordinates": [[1, 2, 99], [3, 4, 98]], "type": "LineString"}""")
      .map(_.toSeq).toSeq === Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    assert(GeometryText.parseGeoJsonLineString(
      """{"type":"Point","coordinates":[4.35,50.85]}""") === null)
    assert(GeometryText.parseGeoJsonLineString("""{"type":"LineString"}""") === null)
    assert(GeometryText.parseGeoJsonLineString("not json") === null)
    assert(GeometryText.parseGeoJsonLineString(null) === null)
    // RFC 7946 §3.1.4: two or more positions required
    assert(GeometryText.parseGeoJsonLineString(
      """{"type":"LineString","coordinates":[[4.35,50.85]]}""") === null)
  }

  test("text tracks flow through the pipeline identically to direct tracks") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val direct = graft.pipeline.HeatmapPipeline.tracksDirect(40).collect().toSeq
    def wktOf(t: graft.model.Schemas.Track) =
      t.coords.map(p => s"${p(0)} ${p(1)}").mkString("LINESTRING (", ", ", ")")
    val viaWkt = GeometryText.tracksFromWkt(
      direct.map(t => (t.contribution_id, t.user_id, wktOf(t))).toDF("contribution_id", "user_id", "wkt"))
    val a = graft.agg.AggOracle.globalGrainFused(graft.raster.Rasterize.pixelKeys(viaWkt))
      .collect().map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    val b = graft.agg.AggOracle.globalGrainFused(
        graft.raster.Rasterize.pixelKeys(s.createDataset(direct)))
      .collect().map(p => ((p.gx, p.gy), (p.users, p.trips))).toMap
    assert(a === b)
    // mixed/bad rows are dropped, not crashed on (F1/F2)
    val mixed = (direct.take(3).map(t => (t.contribution_id, t.user_id, wktOf(t))) ++
      Seq((900L, 1L, "POINT (1 2)"), (901L, 1L, null.asInstanceOf[String])))
      .toDF("contribution_id", "user_id", "wkt")
    assert(GeometryText.tracksFromWkt(mixed).count() === 3)
  }
}
