package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{HeatmapAgg, Pyramid}
import graft.core.Codec
import graft.functions.TileBuffer
import graft.io.TileStore
import graft.model.Schemas.{GlobalPixel, TileVisit, Track}
import graft.raster.Rasterize

/**
 * Incrementally-maintained heatmap (the reference's service loop, SURVEY.md
 * §3.1, recast as dirty-tile MERGE maintenance):
 *
 * per id-window batch (Worker.cs:139-165):
 *   1. skip if the window is already committed (idempotent resume — fixes
 *      the reference's at-least-once double-apply, Worker.cs:122-129)
 *   2. rasterize the batch at tile grain (`Rasterize.tileVisits`): one
 *      sorted packed pixel run per (track × touched z14 tile); its distinct
 *      tkeys are the dirty tile set
 *   3. MERGE the runs into the persistent user_tiles relation — one
 *      `TileVisit` row per (tkey, user_id), partitioned by the tile's own
 *      bucket — reading ONLY the dirty bucket partitions; runs of the same
 *      key merge by a sorted-run saturating add (`TileBuffer.mergeRuns`,
 *      the kernel `TileUsersAgg` merges its runs with too — the reference's
 *      per-pixel merge, Diffs/HeatMapExtensions.cs:49-131)
 *   4. recompute the global z14 layer ONLY for dirty tiles
 *      (Worker.cs:167-222) with the flagship's kernel,
 *      `HeatmapAgg.tileCells` + `cellsToPixels`. Its users >= k HAVING also
 *      does F8 (Worker.cs:178-179): a pixel's user set ⊆ its tile's, so a
 *      sub-k tile keeps no pixel and its absence from the rebuilt output is
 *      its deletion
 *   5. splice the pyramid by signed delta (the reference rebuilds parents
 *      level by level, HeatMapExtensions.cs:148-214; levels below z14 are
 *      plain sums of z14, so the rebuild equals old + rolled-up delta):
 *      one scan of the dirty (z, pb) directories, Δ = new − old z14 rows
 *      of the dirty tiles exploded into its ancestor chain, one
 *      aggregation adding it to the old rows of the dirty tiles of every
 *      level — the scan is bounded by the dirty partitions, never the world
 *   6. commit atomically with lineage metrics: only the DIRTY partitions of
 *      user_tiles/global are written; clean partitions carry forward into
 *      the new version as hardlinks (TileStore.Partial)
 *
 * Every tile-grain step is keyed/partitioned; the dirty-TILE set is the
 * one deliberately driver-side structure — bounded by the id-window
 * (maxContributions × tiles-per-track), the same contract as the
 * reference's in-memory HashSet (Worker.cs:99-103) — so at 10^12-row scale
 * the per-batch scan AND write cost is bounded by the touched-tile subtree
 * × bucket granularity (TileStore.Buckets), not the world.
 *
 * A store whose HEAD has no user_tiles snapshot holds the older per-pixel
 * user_pixels layout; it is refused, not migrated.
 */
object Incremental {
  val Res = Rasterize.Resolution

  /** Dirty-bucket fraction that separates a backfill batch (most buckets
    * dirty) from a trickle window. Read only by the benchmark's self-test;
    * `Incremental` takes the same path for both. */
  val FusedCutover = 0.3

  final case class BatchResult(version: Long, skipped: Boolean)

  private def tileOf(gxCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(gxCol / Res).cast("long")

  private def pbOf(df: DataFrame): DataFrame =
    df.withColumn("pb", TileStore.bucketCol(tileOf(col("gx")), tileOf(col("gy"))))

  /** Process one id-window batch of tracks. Returns the committed version
    * (or skipped=true when the window was already committed). */
  def processBatch(store: TileStore, tracks: Dataset[Track], fromId: Long, toId: Long,
                   k: Int = HeatmapAgg.KAnonymity)(
      implicit spark: SparkSession): BatchResult =
    applyBatch(store, tracks.where(col("contribution_id") > fromId && col("contribution_id") <= toId),
      fromId, toId, k)

  /** Streaming entry: commit keyed by the micro-batch id (exactly-once on
    * crash-replay — Structured Streaming re-delivers the same batchId with
    * the same data). */
  def processMicroBatch(store: TileStore, batch: Dataset[Track], batchId: Long,
                        k: Int = HeatmapAgg.KAnonymity)(
      implicit spark: SparkSession): BatchResult =
    applyBatch(store, batch, batchId, batchId, k)

  private def applyBatch(store: TileStore, batch: Dataset[Track], fromId: Long, toId: Long,
                         k: Int)(implicit spark: SparkSession): BatchResult = {
    // every version this code commits has user_tiles (an empty window
    // writes its _SUCCESS); without it the store's user state would read as
    // empty and the dirty tiles would silently lose every earlier user
    val head = store.currentVersion
    if (head > 0 && !store.hasSnapshot("user_tiles", head))
      throw new IllegalStateException(
        s"tile store has no ${store.snapshotPath("user_tiles", head)}: its user state is the " +
          "older per-pixel user_pixels layout, which is not read or migrated; delete the store and re-run")
    if (store.committedBatches.contains((fromId, toId)))
      return BatchResult(head, skipped = true)

    import spark.implicits._
    val visits = Rasterize.tileVisits(batch)
    visits.persist()

    // The per-batch dirty set is bounded by the id-window (maxContributions
    // × tiles-per-track), exactly the reference's in-memory HashSet
    // (Worker.cs:99-103) — collect it once; per-level ancestor sets and
    // bucket sets derive on the driver.
    val dirtyTkeys: Seq[Long] = visits.select("tkey").as[Long].collect().distinct.sorted.toSeq
    val dirtySet: Set[(Long, Long)] = dirtyTkeys.map(t => (t >>> 32, t & Codec.U32Max)).toSet
    val dirtyByZ: Seq[Set[(Long, Long)]] =
      (0 to 14).map(z => dirtySet.map { case (tx, ty) => (tx >> (14 - z), ty >> (14 - z)) })
    def bucketsOf(s: Set[(Long, Long)]): Seq[Int] =
      s.map { case (tx, ty) => TileStore.bucketOf(tx, ty) }.toSeq.distinct.sorted
    def withTiles(df: DataFrame): DataFrame =
      df.withColumn("tx", tileOf(col("gx"))).withColumn("ty", tileOf(col("gy")))

    // 3. merge user tiles — ONLY the dirty buckets are read (every batch
    // run lives in a dirty tile, and a tile's rows live in its own bucket)
    // and only they are rewritten; the rest hardlink forward. The dirty
    // bucket dirs are read by path: a partition-filtered read lists every
    // bucket dir first, a Spark listing job once they outnumber 32. One
    // exchange keyed (tkey, user_id), then a per-partition hash merge: the
    // stored rows are already unique per key and a window adds few, so a
    // map-side combine would save nothing.
    // eager localCheckpoint: `merged` feeds both the z14 rebuild (the
    // global write) and its own write, which the commit runs concurrently;
    // materialized here, both read the merged runs without recomputing them.
    val dirtyB = bucketsOf(dirtySet)
    val userTiles = store.snapshotPath("user_tiles", head)
    val oldDirs = dirtyB.map(b => s"$userTiles/pb=$b").filter(d => Files.isDirectory(Paths.get(d)))
    val runs =
      if (oldDirs.isEmpty) visits
      else spark.read.schema(userTilesSchemaP).option("basePath", userTiles).parquet(oldDirs: _*)
        .select("user_id", "tkey", "pixels").as[TileVisit].union(visits)
    val merged = runs.repartition(col("tkey"), col("user_id")).mapPartitions { it =>
      val byKey = new java.util.HashMap[(Long, Long), TileVisit]()
      it.foreach(v => byKey.merge((v.tkey, v.user_id), v, (a, b) => a.copy(pixels = TileBuffer.mergeRuns(a.pixels, b.pixels))))
      byKey.values().iterator().asScala
    }.localCheckpoint(true)

    // 4. dirty z14 tiles: the flagship kernel over the merged runs of
    // exactly the dirty tiles (the clean tiles of a dirty bucket keep
    // their global rows)
    val dirtyZ14 = HeatmapAgg.cellsToPixels(
      HeatmapAgg.tileCells(merged.where(col("tkey").isin(dirtyTkeys: _*))), k)

    // 5. signed-delta pyramid splice. Levels below z14 are plain sums of
    // the stored z14 layer (Pyramid.scala), so the batch changes every
    // dirty ancestor by exactly the rolled-up z14 delta
    //   Δ = dirtyZ14 − old z14 rows of the dirty tiles
    // (negative where a pixel falls out of the threshold). ONE scan of the
    // dirty (z, pb) directories — the (z * Buckets + pb) isin references
    // only partition columns, so it lands as directory pruning — splits by
    // a broadcast (z, tx, ty) join into
    //   kept:     rows outside the dirty tiles of their level; unchanged,
    //             but rewritten with their partition (clean partitions are
    //             NOT written — commit hardlinks them forward, so writing
    //             their rows here would duplicate them in v<next>)
    //   oldDirty: rows of the dirty tiles, all 15 levels
    // Every Δ row explodes into its ancestor chain z14..z0 and one
    // aggregation adds the chains to oldDirty: z14 becomes old + (new −
    // old) = new, each ancestor old + its rolled-up Δ. A row whose users
    // and trips both reach 0 has no stored z14 descendant left: dropped.
    val dirtyAll = (0 to 14).flatMap(lv =>
      dirtyByZ(lv).toSeq.map { case (tx, ty) => (lv, tx, ty) }).toDF("z", "tx", "ty")
    val dirtyDirs = (0 to 14).flatMap(lv => bucketsOf(dirtyByZ(lv)).map(b => (lv, b)))
    val oldGlobal = store.read("global", Some(globalSchemaP))
      .map(_.where((col("z") * TileStore.Buckets + col("pb"))
          .isin(dirtyDirs.map { case (lv, b) => lv * TileStore.Buckets + b }: _*))
        .select("z", "gx", "gy", "users", "trips"))
      .getOrElse(emptyGlobal)
      .transform(withTiles)
    val kept = oldGlobal.join(broadcast(dirtyAll), Seq("z", "tx", "ty"), "left_anti").drop("tx", "ty")
    val oldDirty = oldGlobal.join(broadcast(dirtyAll), Seq("z", "tx", "ty"), "left_semi").drop("tx", "ty")
    val zDelta = dirtyZ14.toDF().unionByName(oldDirty.where(col("z") === 14)
      .select(col("z"), col("gx"), col("gy"), (-col("users")).as("users"), (-col("trips")).as("trips")))
    val newDirty = Pyramid.mergePartials(
      oldDirty.as[GlobalPixel].union(Pyramid.ancestorPartials(zDelta.as[GlobalPixel])))
      .where(col("users") =!= 0 || col("trips") =!= 0)
    val newGlobalDirty = pbOf(kept.unionByName(newDirty.toDF()))
    val globalDirtyDirs: Set[String] = dirtyDirs.map { case (lv, b) => s"z=$lv/pb=$b" }.toSet

    // per-user cursors (S12, Worker.cs:290-296): last contribution id seen
    // per user, merged with the previous snapshot
    val batchCursors = batch.toDF()
      .groupBy("user_id").agg(max("contribution_id").as("last_id"))
    val userCursors = store.read("user_cursors", Some(userCursorsSchema)) match {
      case None => batchCursors
      case Some(old) =>
        old.withColumnRenamed("last_id", "old_id")
          .join(batchCursors.withColumnRenamed("last_id", "new_id"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            greatest(coalesce(col("old_id"), lit(-1L)), coalesce(col("new_id"), lit(-1L))).as("last_id"))
    }

    // 6. atomic commit with lineage metrics: dirty partitions written,
    // clean partitions hardlinked forward, dirty tiles recorded for the
    // incremental MVT exporter
    // cluster each partial write by its partition key (one shuffle of the
    // DIRTY rows only): each hive partition gets ONE file instead of one
    // per upstream task — at planetary scale the manifest stays proportional
    // to dirty partitions, not tasks × partitions
    val version = store.commit(fromId, toId,
      relations = Map("user_cursors" -> (userCursors, None)),
      partial = Map(
        "user_tiles" -> TileStore.Partial(
          merged.withColumn("pb", TileStore.bucketCol(shiftrightunsigned(col("tkey"), 32),
            col("tkey").bitwiseAND(lit(Codec.U32Max)))).repartition(col("pb")),
          Seq("pb"), dirtyB.map(b => s"pb=$b").toSet),
        "global" -> TileStore.Partial(newGlobalDirty.repartition(col("z"), col("pb")),
          Seq("z", "pb"), globalDirtyDirs)),
      dirtyTiles = Some(dirtySet.toSeq.sorted))
    visits.unpersist()
    // the checkpoint's blocks would otherwise stay until the driver GCs the RDD
    org.apache.spark.sql.graft.SparkInternals.releaseCheckpointBlocks(merged.toDF())
    BatchResult(version, skipped = false)
  }

  import org.apache.spark.sql.types._

  val globalSchema: StructType = StructType(Seq(
    StructField("z", IntegerType, nullable = true),
    StructField("gx", LongType, nullable = true),
    StructField("gy", LongType, nullable = true),
    StructField("users", LongType, nullable = true),
    StructField("trips", LongType, nullable = true)))

  /** `globalSchema` + the tile-bucket partition column. */
  val globalSchemaP: StructType = globalSchema.add("pb", IntegerType)

  val userCursorsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = true),
    StructField("last_id", LongType, nullable = true)))

  /** user_tiles: `Schemas.TileVisit` + the tile-bucket partition column. */
  val userTilesSchemaP: StructType =
    org.apache.spark.sql.Encoders.product[TileVisit].schema.add("pb", IntegerType)

  /** The older per-pixel user_pixels relation (+ pb). `Incremental` neither
    * writes nor reads it; only the benchmark's store counters do. */
  val userPixelsSchemaP: StructType =
    StructType.fromDDL("user_id BIGINT, gx BIGINT, gy BIGINT, trips BIGINT, pb INT")

  private def emptyGlobal(implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], globalSchema)

  /** Drive all batches of `maxContributions` each from the store's cursor to
    * `latestId` (the reference's poll loop, run-once mode). */
  def runToLatest(store: TileStore, tracks: Dataset[Track], latestId: Long,
                  maxContributions: Long = 10,
                  k: Int = HeatmapAgg.KAnonymity)(
      implicit spark: SparkSession): Seq[BatchResult] = {
    var from = store.lastCommittedId
    if (from < 0) from = -1
    val out = Seq.newBuilder[BatchResult]
    while (from < latestId) {
      val to = math.min(from + maxContributions, latestId)
      out += processBatch(store, tracks, from, to, k)
      from = to
    }
    out.result()
  }
}
