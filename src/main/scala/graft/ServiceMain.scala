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
  val MaxZoom = 14

  /** Below this many tiles a full export skips the histogram-sized range
    * shuffle — the observe pass over the tile stream costs more than the
    * balance buys on a small tree. */
  val BalanceExportMinTiles = 10000L

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
  def withAncestors(dirty: Set[(Long, Long)], maxZoom: Int = MaxZoom): Set[(Int, Long, Long)] =
    dirty.flatMap { case (tx, ty) =>
      (0 to maxZoom).map(z => (z, tx >> (maxZoom - z), ty >> (maxZoom - z)))
    }

  /**
   * Incremental MVT export of the committed state: re-encode ONLY the tiles
   * dirtied by commits since the last export (plus ancestors), rewrite
   * exactly those `{z}/{x}/{y}.mvt` files — byte-identical to what a full
   * re-export would write for them (`MvtJobs.encodeLowerFused`, the
   * flagship's group-per-tile encoder, encodes each tile from its own rows,
   * so the subset encodes independently). First export (no EXPORTED marker) is a
   * full export. The marker moves only AFTER the files land: a crash
   * mid-export re-exports the same tiles idempotently.
   */
  def exportTiles(store: TileStore, mvtDir: String,
                  balanceMinTiles: Long = BalanceExportMinTiles)(
      implicit spark: SparkSession): Unit = {
    val head = store.currentVersion
    val since = store.exportedVersion
    if (head <= since) return
    // dirty set resolved OUTSIDE the closure below: a dirty-tile-free
    // commit window has nothing to re-encode but must STILL advance the
    // EXPORTED marker (else every later export re-parses the same window),
    // and a non-local `return` from inside foreach would skip exactly that
    val dirtyTargets = if (since == 0) None else Some(withAncestors(store.dirtyTilesSince(since)))
    if (!dirtyTargets.exists(_.isEmpty)) {
      store.read("global", Some(Incremental.globalSchemaP)).foreach { g =>
      val res = graft.raster.Rasterize.Resolution
      val subset =
        if (since == 0) g // first export: everything
        else {
          val targets = dirtyTargets.get
          import spark.implicits._
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
      import spark.implicits._
      val tiles = graft.mvt.MvtJobs.encodeLowerFused(
        subset.select("z", "gx", "gy", "users", "trips").as[GlobalPixel])
      if (since == 0) {
        // full export — the O(world) write. Persist the encoded blobs (the
        // observe passes re-read the stream) and, when the tree is big
        // enough to amortize the histogram pass, range-shuffle it into
        // byte-balanced contiguous neighborhoods before fanning out files.
        tiles.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val balance =
            if (tiles.count() >= balanceMinTiles)
              Some(spark.sparkContext.defaultParallelism)
            else None
          graft.mvt.MvtJobs.writeMvtFiles(tiles, mvtDir, balance)
        } finally tiles.unpersist()
      } else
        // dirty-tile export: the set is bounded by the batch, not the
        // world — the observe pass would cost more than it saves
        graft.mvt.MvtJobs.writeMvtFiles(tiles, mvtDir)
      }
    }
    // runs even for a dirty-tile-free window: the marker must advance
    writeTileJson(mvtDir)
    store.markExported(head)
  }

  /** TileJSON metadata next to the tile tree — the reference ships this
    * file with the service (HeatMap.Tiles.Service/mvt.json:1-22): layer id
    * "heatmap", zoom range 0..14, pbf format. */
  def writeTileJson(mvtDir: String, urlTemplate: String = "{z}/{x}/{y}.mvt"): Unit = {
    val json =
      s"""{
         |  "tiles": ["$urlTemplate"],
         |  "maxzoom": $MaxZoom,
         |  "minzoom": 0,
         |  "name": "heatmap",
         |  "description": "Contains trips heatmap.",
         |  "format": "pbf",
         |  "id": "heatmap",
         |  "basename": "heatmap",
         |  "vector_layers": [
         |    {"maxzoom": $MaxZoom, "minzoom": 0, "id": "heatmap", "description": ""}
         |  ],
         |  "version": "1.0",
         |  "tilejson": "2.0.0"
         |}
         |""".stripMargin
    val dir = java.nio.file.Paths.get(mvtDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("mvt.json"), json.getBytes("UTF-8"))
  }
}
