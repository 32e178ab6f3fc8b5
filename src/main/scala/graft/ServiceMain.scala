package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.TileStore
import graft.model.Schemas.{GlobalPixel, Track}
import graft.pipeline.{Incremental, WorkerConfig}
import graft.stream.StreamingHeatmap

/**
 * The deployable service entry — the engine's replacement for the
 * reference's `Program.cs`/`Worker.cs` host
 * (`/root/reference/src/HeatMap.Tiles.Service/Program.cs:20-43`). Run via
 * spark-submit; ALL configuration arrives as `--conf spark.graft.*`
 * (WorkerConfig), the session master/resources come from the submit
 * environment — nothing is hard-coded for local mode:
 *
 *   spark-submit --class graft.ServiceMain \
 *     --conf spark.graft.dataPath=s3://bucket/tracks \
 *     --conf spark.graft.outputPath=s3://bucket/tiles \
 *     --conf spark.graft.userThreshold=3 \
 *     --conf spark.graft.mode=service  app.jar
 *
 * Modes:
 *   service — Structured-Streaming run-once over dataPath (the reference's
 *             RefreshTime==0 poll loop): each micro-batch flows through the
 *             checkpointed dirty-tile MERGE maintenance, exactly-once.
 *   batch   — id-window batches through the same store (Worker run-once).
 * Both end with the INCREMENTAL MVT export: only tiles dirtied since the
 * last export (plus their ancestor chain) are re-encoded and rewritten —
 * the reference's own contract (`WriteVectorTiles(heatMap, updatedTiles)`,
 * Worker.cs:257-279) — so the export is O(dirty), not O(world). A TileJSON
 * metadata file (mvt.json semantics, HeatMap.Tiles.Service/mvt.json:1-22)
 * ships next to the tile tree for tile-server consumers.
 */
object ServiceMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("graft-heatmap-service")
      .config("spark.sql.codegen.cache.maxEntries", graft.spark.Sessions.CodegenCacheEntries.toLong)
      .getOrCreate()
    run(spark)
    spark.stop()
  }

  def run(spark: SparkSession): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cfg = WorkerConfig.fromSpark(spark)
    val store = new TileStore(s"${cfg.outputPath}/store")

    spark.conf.get("spark.graft.mode", "service") match {
      case "service" =>
        StreamingHeatmap.runOnce(cfg.dataPath, store, s"${cfg.outputPath}/checkpoint",
          k = cfg.userThreshold)
      case "batch" =>
        val tracks = spark.read.schema(StreamingHeatmap.trackSchema)
          .parquet(cfg.dataPath).as[Track]
        val maxRow = tracks.agg(org.apache.spark.sql.functions.max("contribution_id"))
          .collect().head
        if (maxRow.isNullAt(0)) {
          // empty input (e.g. first deploy before any tracks land): clean no-op
          System.err.println(s"[graft] no tracks under ${cfg.dataPath}; nothing to do")
        } else {
          Incremental.runToLatest(store, tracks, maxRow.getLong(0), cfg.maxContributions,
            k = cfg.userThreshold)
        }
      case other => throw new IllegalArgumentException(s"spark.graft.mode=$other")
    }

    exportTiles(store, s"${cfg.outputPath}/mvt")

    // optional version retention (spark.graft.keepVersions=N): after a
    // successful export, unlink snapshot versions older than the retention
    // window — at planetary scale the store grows per commit otherwise.
    // Hardlink-safe (TileStore.gc); metadata/commit history untouched.
    // keepVersions must cover the longest in-flight read window (snapshot
    // isolation — WorkerConfig scaladoc); gcMinAgeSeconds adds an age floor
    cfg.keepVersions.foreach { keep =>
      val (dirs, bytes) = store.gc(keep, cfg.gcMinAgeSeconds)
      System.err.println(s"[graft] gc: removed $dirs snapshot dirs, unlinked $bytes bytes " +
        s"(keep=$keep, minAge=${cfg.gcMinAgeSeconds}s)")
    }
  }

  /** Dirty z14 tiles + the full ancestor chain of each — the exporter's
    * target set (the reference accumulates exactly this in `updatedTiles`:
    * the touched tiles at every zoom, Worker.cs:167-222,257-279). */
  def withAncestors(dirty: Set[(Long, Long)]): Set[(Int, Long, Long)] = {
    val maxZoom = graft.raster.Rasterize.Zoom
    dirty.flatMap { case (tx, ty) =>
      (0 to maxZoom).map(z => (z, tx >> (maxZoom - z), ty >> (maxZoom - z)))
    }
  }

  /**
   * Incremental MVT export of the committed state: re-encode ONLY the tiles
   * dirtied by commits since the last export (plus ancestors), rewrite
   * exactly those `{z}/{x}/{y}.mvt` files — byte-identical to what a full
   * re-export would write for them (`MvtJobs.encodeLowerFused`, the
   * flagship's group-per-tile encoder, encodes each tile from its own rows,
   * so the subset encodes independently). First export (no EXPORTED marker)
   * is a full export of `global`. Both go through the one encoder and the
   * one `MvtJobs.writeMvtFiles` sink. The marker moves only AFTER the files
   * land: a crash mid-export re-exports the same tiles idempotently.
   */
  def exportTiles(store: TileStore, mvtDir: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val head = store.currentVersion
    val since = store.exportedVersion
    if (head <= since) return
    def global = store.read("global", Some(Incremental.globalSchemaP))
    val subset =
      if (since == 0) global // first export: everything
      else {
        val targets = withAncestors(store.dirtyTilesSince(since))
        // a dirty-tile-free window has nothing to re-encode, but still
        // advances the EXPORTED marker below (else every later export
        // re-parses the same window)
        if (targets.isEmpty) None
        else global.map { g =>
          val res = graft.raster.Rasterize.Resolution
          val targetDf = targets.toSeq.sorted.toDF("z", "tx", "ty")
          // partition pruning first: each level's own dirty buckets, as
          // (z * Buckets + pb) pairs over the hive partition columns (the
          // splice's pruning), then exact tile selection via broadcast
          // semi-join
          val dirs = targets.map { case (z, tx, ty) => z * TileStore.Buckets + TileStore.bucketOf(tx, ty) }
            .toSeq.sorted.map(Integer.valueOf)
          g.where((col("z") * TileStore.Buckets + col("pb")).isin(dirs: _*))
            .withColumn("tx", floor(col("gx") / res).cast("long"))
            .withColumn("ty", floor(col("gy") / res).cast("long"))
            .join(broadcast(targetDf), Seq("z", "tx", "ty"), "left_semi")
            .drop("tx", "ty")
        }
      }
    subset.foreach { g =>
      graft.mvt.MvtJobs.writeMvtFiles(graft.mvt.MvtJobs.encodeLowerFused(
        g.select("z", "gx", "gy", "users", "trips").as[GlobalPixel]), mvtDir)
    }
    writeTileJson(mvtDir)
    store.markExported(head)
  }

  /** TileJSON metadata next to the tile tree — the reference ships this
    * file with the service (HeatMap.Tiles.Service/mvt.json:1-22): layer id
    * "heatmap", zoom range 0..14, pbf format. Rewritten on every export
    * through `AtomicWrite`, so a tile server reading it never sees a torn
    * file. */
  def writeTileJson(mvtDir: String): Unit = {
    val maxZoom = graft.raster.Rasterize.Zoom
    val json =
      s"""{
         |  "tiles": ["{z}/{x}/{y}.mvt"],
         |  "maxzoom": $maxZoom,
         |  "minzoom": 0,
         |  "name": "heatmap",
         |  "description": "Contains trips heatmap.",
         |  "format": "pbf",
         |  "id": "heatmap",
         |  "basename": "heatmap",
         |  "vector_layers": [
         |    {"maxzoom": $maxZoom, "minzoom": 0, "id": "heatmap", "description": ""}
         |  ],
         |  "version": "1.0",
         |  "tilejson": "2.0.0"
         |}
         |""".stripMargin
    val dir = java.nio.file.Paths.get(mvtDir)
    java.nio.file.Files.createDirectories(dir)
    graft.io.AtomicWrite.write(dir.resolve("mvt.json"), json)
  }
}
