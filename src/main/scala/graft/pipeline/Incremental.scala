package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{HeatmapAgg, Pyramid}
import graft.io.TileStore
import graft.model.Schemas.{GlobalPixel, Track, UserPixel}
import graft.raster.Rasterize

/**
 * Incrementally-maintained heatmap (the reference's service loop, SURVEY.md
 * §3.1, recast as dirty-tile MERGE maintenance):
 *
 * per id-window batch (Worker.cs:139-165):
 *   1. skip if the window is already committed (idempotent resume — fixes
 *      the reference's at-least-once double-apply, Worker.cs:122-129)
 *   2. rasterize the batch → delta user-pixels
 *   3. MERGE delta into the persistent user_pixels relation
 *      (full-outer + saturating add = Diffs/HeatMapExtensions.cs:49-131) —
 *      reading ONLY the dirty tile-bucket partitions (directory pruning)
 *   4. recompute the global z14 layer ONLY for dirty tiles
 *      (Worker.cs:167-222) with the batch path's HeatmapAgg.globalGrain
 *   5. splice the pyramid by signed delta (the reference rebuilds parents
 *      level by level, HeatMapExtensions.cs:148-214; levels below z14 are
 *      plain sums of z14, so the rebuild equals old + rolled-up delta):
 *      one scan of the dirty (z, pb) directories, Δ = new − old z14 rows
 *      of the dirty tiles exploded into its ancestor chain, one
 *      aggregation adding it to the old rows of the dirty tiles of every
 *      level — the scan is bounded by the dirty partitions, never the world
 *   6. commit atomically with lineage metrics: only the DIRTY partitions of
 *      user_pixels/global are written; clean partitions carry forward into
 *      the new version as hardlinks (TileStore.Partial)
 *
 * Every pixel-grain step is keyed/partitioned; the dirty-TILE set is the
 * one deliberately driver-side structure — bounded by the id-window
 * (maxContributions × tiles-per-track), the same contract as the
 * reference's in-memory HashSet (Worker.cs:99-103) — so at 10^12-row scale
 * the per-batch scan AND write cost is bounded by the touched-tile subtree
 * × bucket granularity (TileStore.Buckets), not the world.
 */
object Incremental {
  val Res = Rasterize.Resolution

  /** Dirty-bucket fraction above which the F8 tile pre-check is skipped:
    * past this point most of the store is dirty, tiles are dense and the
    * extra (tile, user)-grain pass filters almost nothing (sandbox backfill
    * batches land here; planetary steady-state trickle stays far below). */
  val FusedCutover = 0.3

  final case class BatchResult(version: Long, skipped: Boolean)

  private def tileOf(gxCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(gxCol / Res).cast("long")

  private def pbOf(df: DataFrame): DataFrame =
    df.withColumn("pb", TileStore.bucketCol(tileOf(col("gx")), tileOf(col("gy"))))

  /** F8 pre-check (Worker.cs:178-179): the (tx, ty) tiles of `dirtyRows`
    * (user-pixel rows carrying tx/ty columns) whose EXACT distinct user
    * count reaches k — only their rows are worth the pixel-grain rebuild;
    * a sub-k tile's pixels all fail the k-anonymity HAVING regardless.
    * Exact, not approximate: a tile with exactly k users must survive. */
  def eligibleTiles(dirtyRows: DataFrame, k: Int): DataFrame =
    dirtyRows
      .groupBy("tx", "ty")
      .agg(countDistinct(col("user_id")).as("tile_users"))
      .where(col("tile_users") >= k)
      .select("tx", "ty")

  /** Merge batch delta into persistent user pixels: full-outer sum with the
    * reference's u32 saturation. */
  def mergeUserPixels(existing: Option[DataFrame], delta: DataFrame): DataFrame = {
    val d = delta.groupBy("user_id", "gx", "gy").agg(sum("trips").as("trips"))
    existing match {
      case None => d
      case Some(e) =>
        e.withColumnRenamed("trips", "trips_old")
          .join(d.withColumnRenamed("trips", "trips_new"), Seq("user_id", "gx", "gy"), "full_outer")
          .select(col("user_id"), col("gx"), col("gy"),
            least(coalesce(col("trips_old"), lit(0L)) + coalesce(col("trips_new"), lit(0L)),
              lit(graft.core.Codec.U32Max)).as("trips"))
    }
  }

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
    if (store.committedBatches.contains((fromId, toId)))
      return BatchResult(store.currentVersion, skipped = true)

    import spark.implicits._
    val delta = HeatmapAgg.userGrain(Rasterize.userPixels(batch)).toDF()
    delta.persist()

    // The per-batch dirty set is bounded by the id-window (maxContributions
    // × tiles-per-track), exactly the reference's in-memory HashSet
    // (Worker.cs:99-103) — collect it once; per-level ancestor sets and
    // bucket sets derive on the driver.
    val dirtySet: Set[(Long, Long)] = delta
      .select(tileOf(col("gx")).as("tx"), tileOf(col("gy")).as("ty")).distinct()
      .as[(Long, Long)].collect().toSet
    val dirtyByZ: Array[Set[(Long, Long)]] = {
      val arr = new Array[Set[(Long, Long)]](15)
      arr(14) = dirtySet
      var z = 13
      while (z >= 0) {
        arr(z) = arr(z + 1).map { case (tx, ty) => (tx / 2, ty / 2) }
        z -= 1
      }
      arr
    }
    def bucketsOf(s: Set[(Long, Long)]): Seq[Int] =
      s.map { case (tx, ty) => TileStore.bucketOf(tx, ty) }.toSeq.distinct.sorted
    def tilesDf(s: Set[(Long, Long)]): DataFrame =
      s.toSeq.sorted.toDF("tx", "ty")
    def withTiles(df: DataFrame): DataFrame =
      df.withColumn("tx", tileOf(col("gx"))).withColumn("ty", tileOf(col("gy")))

    // 3. merge user pixels — ONLY the dirty buckets are read (partition-
    // pruned: the delta's keys all live in dirty tiles, so clean buckets
    // cannot change) and only they are rewritten; the rest hardlink forward.
    // localCheckpoint: `merged` feeds both the z14 rebuild and its own write.
    val dirtyB = bucketsOf(dirtySet)
    val oldUpDirty = store.readBuckets("user_pixels", Some(userPixelsSchemaP), dirtyB)
      .map(_.select("user_id", "gx", "gy", "trips"))
    val merged = mergeUserPixels(oldUpDirty, delta).localCheckpoint(false)

    // 4. dirty z14 tiles: rebuild the global layer for exactly those tiles
    // from the merged (dirty-bucket) user pixels with the batch path's
    // kernel: `merged` holds one row per (user_id, gx, gy), so
    // globalGrain's count(*) per pixel is the exact distinct-user count.
    //
    // F8 (Worker.cs:178-179): tile-level user PRE-CHECK first — a dirty
    // tile whose distinct user count is below k cannot contribute any
    // pixel (a pixel's user set ⊆ its tile's), so its rows skip the
    // pixel-grain rebuild entirely; its absence from the rebuilt output IS
    // its deletion, exactly like the unfiltered HAVING. The pre-check
    // exchanges at (tile, user) grain (map-side partial dedup), ≪ pixel
    // grain — a win exactly in the TRICKLE regime, where most touched
    // tiles are sparse and most rows never reach the expensive aggregate.
    // In the backfill regime (most of the store dirty, tiles dense) the
    // reference's per-tile in-memory check is free but a distributed
    // pre-agg is a whole extra pass that filters almost nothing —
    // measured +25 % batch latency at sf0.01 backfill — so it is gated on
    // the dirty-bucket fraction (FusedCutover).
    val dirtyFraction = dirtyB.size.toDouble / TileStore.Buckets
    val preCheckOn = dirtyFraction <= FusedCutover && k > 1
    val dirtyRows = merged
      .transform(withTiles)
      .join(broadcast(tilesDf(dirtySet)), Seq("tx", "ty"), "left_semi")
    val rebuildRows =
      if (preCheckOn)
        dirtyRows.join(broadcast(eligibleTiles(dirtyRows, k)), Seq("tx", "ty"), "left_semi")
      else dirtyRows
    val dirtyZ14 = HeatmapAgg.globalGrain(
      rebuildRows.select("user_id", "gx", "gy", "trips").as[UserPixel], k)

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
    val oldDirs = store.read("global", Some(globalSchemaP))
      .map(_.where((col("z") * TileStore.Buckets + col("pb"))
          .isin(dirtyDirs.map { case (lv, b) => lv * TileStore.Buckets + b }: _*))
        .select("z", "gx", "gy", "users", "trips"))
      .getOrElse(emptyGlobal)
      .transform(withTiles)
    val kept = oldDirs.join(broadcast(dirtyAll), Seq("z", "tx", "ty"), "left_anti").drop("tx", "ty")
    val oldDirty = oldDirs.join(broadcast(dirtyAll), Seq("z", "tx", "ty"), "left_semi").drop("tx", "ty")
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
        "user_pixels" -> TileStore.Partial(pbOf(merged).repartition(col("pb")), Seq("pb"),
          dirtyB.map(b => s"pb=$b").toSet),
        "global" -> TileStore.Partial(newGlobalDirty.repartition(col("z"), col("pb")),
          Seq("z", "pb"), globalDirtyDirs)),
      dirtyTiles = Some(dirtySet.toSeq.sorted))
    delta.unpersist()
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

  val userPixelsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = true),
    StructField("gx", LongType, nullable = true),
    StructField("gy", LongType, nullable = true),
    StructField("trips", LongType, nullable = true)))

  val userPixelsSchemaP: StructType = userPixelsSchema.add("pb", IntegerType)

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
