package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}

import graft.model.Schemas.Track
import graft.mvt.MvtJobs
import graft.pipeline.HeatmapPipeline

/** An order-independent content digest: element count plus the sum of
  * per-element murmur3 hashes. */
final case class Fingerprint(n: Long, fp: Long) {
  override def toString: String = s"$n/$fp"
}

/** Output checks. Each returns an error message, or None when it holds. */
object Checks {
  def tileHash(z: Int, x: Long, y: Long, blob: Array[Byte]): Int =
    MurmurHash3.bytesHash(blob, MurmurHash3.productHash((z, x, y)))

  def ofTiles(tiles: Iterator[(Int, Long, Long, Array[Byte])]): Fingerprint = {
    var n = 0L
    var fp = 0L
    tiles.foreach { case (z, x, y, b) => n += 1; fp += tileHash(z, x, y, b) }
    Fingerprint(n, fp)
  }

  /** Digest of an `{z}/{x}/{y}.mvt` tree on disk. */
  def ofTree(dir: Path): Fingerprint = {
    if (!Files.isDirectory(dir)) return Fingerprint(0, 0)
    val walk = Files.walk(dir)
    val files = try walk.iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".mvt")).toList
    finally walk.close()
    ofTiles(files.iterator.map { f =>
      val rel = dir.relativize(f)
      (rel.getName(0).toString.toInt, rel.getName(1).toString.toLong,
        rel.getName(2).toString.stripSuffix(".mvt").toLong, Files.readAllBytes(f))
    })
  }

  /** Digest of a pixel relation (z, gx, gy, users, trips), computed by Spark. */
  def ofPixels(df: DataFrame): Fingerprint = {
    val r = df.select("z", "gx", "gy", "users", "trips")
      .agg(count(lit(1)), sum(hash(col("z"), col("gx"), col("gy"), col("users"), col("trips")).cast("long")))
      .head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def same(what: String, got: Fingerprint, want: Fingerprint): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Incremental == one-shot: the store's `global` relation and its
    * exported tile tree must equal a one-shot rebuild of the same tracks,
    * written to `scratch`. Returns the failures. */
  def incrementalMatchesOneShot(global: DataFrame, tree: Path, tracks: Dataset[Track], scratch: Path)(
      implicit spark: SparkSession): Seq[String] = {
    val r = HeatmapPipeline.run(tracks)
    try {
      MvtJobs.writeMvtFiles(HeatmapPipeline.mvtAll(r), scratch.toString)
      Seq(same("store global vs one-shot pyramid", ofPixels(global), ofPixels(r.pyramid.toDF())),
        same("exported mvt tree vs one-shot mvt tree", ofTree(tree), ofTree(scratch))).flatten
    } finally r.release()
  }
}
