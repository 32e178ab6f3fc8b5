package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col, floor, lit}

import graft.io.TileStore
import graft.pipeline.Incremental

/** One `commits.jsonl` record, reduced to the store counters the benchmark
  * reports. Row and byte counts cover every relation the commit wrote. */
final case class Commit(version: Long, fromId: Long, toId: Long, dirtyTiles: Seq[(Long, Long)],
                        rowsWritten: Long, bytesWritten: Long, tileRowsWritten: Long,
                        writtenDirs: Long, carriedDirs: Long) {
  def contributions: Long = toId - fromId

  /** Share of the store's tile buckets the window dirtied: the input of
    * `Incremental`'s choice between the bounded cascade and the fused
    * rebuild. */
  def dirtyBucketFrac: Double =
    dirtyTiles.map { case (tx, ty) => TileStore.bucketOf(tx, ty) }.distinct.size.toDouble / TileStore.Buckets
}

object StoreStats {
  /** Relations partitioned by tile bucket: their rewritten rows are the
    * denominator of the useful-write ratio. */
  val TileRelations = Seq("user_pixels", "global")

  private def long(n: JsonNode, field: String): Long =
    Option(n.get(field)).map(_.asLong).getOrElse(0L)

  def parse(line: String): Commit = {
    val n = Json.mapper.readTree(line)
    val rels = n.get("relations").fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    val tiles = Option(n.get("dirty_tiles")).map(_.elements().asScala.map(p =>
      (p.get(0).asLong, p.get(1).asLong)).toSeq).getOrElse(Seq.empty)
    Commit(long(n, "version"), long(n, "from_id"), long(n, "to_id"), tiles,
      rels.map(r => long(r._2, "rows")).sum, rels.map(r => long(r._2, "bytes")).sum,
      rels.collect { case (k, v) if TileRelations.contains(k) => long(v, "rows") }.sum,
      rels.map(r => long(r._2, "written_dirs")).sum, rels.map(r => long(r._2, "carried_dirs")).sum)
  }

  /** Every commit record of the store at `root`, in file order. */
  def commits(root: Path): Seq[Commit] = {
    val f = root.resolve("commits.jsonl")
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f).asScala.filter(_.trim.nonEmpty).map(parse).toSeq
  }

  /** Rows of the commit's tile relations that lie in a tile the window
    * dirtied (at z14 for user pixels, at every level for the pyramid):
    * the numerator of the useful-write ratio. Reads the committed version. */
  def rowsInDirtyTiles(store: TileStore, c: Commit)(implicit spark: SparkSession): Long = {
    import spark.implicits._
    val res = graft.raster.Rasterize.Resolution
    val dirty = (0 to 14).flatMap(z => c.dirtyTiles.map { case (tx, ty) =>
      (z, tx >> (14 - z), ty >> (14 - z)) }).distinct
    val tiles = dirty.toDF("z", "tx", "ty")
    // partition pruning first: only the dirty (z, pb) directories can hold
    // rows of a dirty tile
    val dirs = dirty.map { case (z, tx, ty) => z * TileStore.Buckets + TileStore.bucketOf(tx, ty) }.distinct
    def tileCols(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("tx", floor(col("gx") / res).cast("long"))
        .withColumn("ty", floor(col("gy") / res).cast("long"))
    val up = store.readAt("user_pixels", c.version, Some(Incremental.userPixelsSchemaP))
      .map(df => tileCols(df.where((lit(14 * TileStore.Buckets) + col("pb")).isin(dirs: _*)))
        .join(broadcast(tiles.where(col("z") === 14).drop("z")), Seq("tx", "ty"), "left_semi")
        .count()).getOrElse(0L)
    val gl = store.readAt("global", c.version, Some(Incremental.globalSchemaP))
      .map(df => tileCols(df.where((col("z") * TileStore.Buckets + col("pb")).isin(dirs: _*)))
        .join(broadcast(tiles), Seq("z", "tx", "ty"), "left_semi").count())
      .getOrElse(0L)
    up + gl
  }
}
