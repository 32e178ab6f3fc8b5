package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape gates: the plans that must survive a 100× scale-up.
 * These assert the optimizer contract (pushdown, pruning, broadcasts, no
 * cartesian products, codegen'd expressions) rather than output values.
 */
class PlanQualitySpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = Sessions.local(4, "plan-spec")
  private val sf = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan: filters pushed, columns pruned") {
    implicit val s: SparkSession = spark
    val df = graft.queries.Tables.events(s, sf)
      .where(col("event_id") > 100)
      .select("event_id", "user_id")
    val scan = df.queryExecution.sparkPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)]"), scan)
    assert(scan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"), scan)
  }

  test("point-in-polygon join: broadcast-only, no cartesian, no shuffle of the point side") {
    implicit val s: SparkSession = spark
    val plan = physical(graft.geo.SpatialJoins.pointInRegion(
      graft.queries.GraftQueries.eventPoints(s, sf),
      graft.queries.GraftQueries.TestRegions))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("3-way join: the small dimension side is broadcast") {
    implicit val s: SparkSession = spark
    val plan = physical(graft.queries.RelationalQueries.queries("q_j1_join3")(s, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("exact jaccard join: equi-join on the shingle index, never a cartesian product") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = Seq((0L, "the quick brown fox"), (1L, "the quick brown fax"),
      (2L, "zzz yyy xxx www")).toDF("doc_id", "text")
    val plan = physical(graft.dedup.Dedup.jaccardJoin(docs, threshold = 0.7))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("phash near-dup join: equi-join on block keys, never a cartesian product") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val imgs = (0L until 64L).map(i => (i, graft.synth.ImageSynth.plantedPhash(i)))
      .toDF("id", "phash")
    val plan = physical(graft.dedup.Dedup.phashNearDups(imgs, maxDist = 3))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate generation must key on (blk, bval) — the a.id < b.id part
    // rides along as a join condition, not a post-filter over a cross join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("decontamination: the eval n-gram side is BROADCAST, training scan never shuffles to join") {
    implicit val s: SparkSession = spark
    val plan = physical(graft.queries.TextQueries.queries("q_t5_decontam")(s, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sequence packing: the window is per source shard, never a single global partition") {
    implicit val s: SparkSession = spark
    val plan = physical(graft.queries.TextQueries.queries("q_pack_sequences")(s, sf))
    // a global ORDER BY window would plan hashpartitioning over NO keys /
    // a SinglePartition exchange — the shard window partitions by source
    assert(plan.contains("hashpartitioning(source"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("mixture sampling: narrow predicate + one aggregation exchange, no extra shuffle to sample") {
    implicit val s: SparkSession = spark
    val plan = physical(graft.queries.TextQueries.queries("q_mix_sample")(s, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan)
  }

  test("tile-grain aggregate: ONE exchange, keyed by tile not pixel") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tiles = graft.raster.Rasterize.tileVisits(
      s.createDataset(Seq(graft.model.Schemas.Track(1, 1,
        Array(Array(4.35, 50.85), Array(4.351, 50.851))))))
    val plan = physical(graft.agg.HeatmapAgg.cellsToPixels(
      graft.agg.HeatmapAgg.tileCells(tiles)).toDF())
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan)
    assert(plan.contains("tile_users"), plan)
    assert(plan.contains("hashpartitioning(tkey"), plan)
  }

  test("flagship export: z14 MVTs need ZERO exchanges over the cached tiles; full mvtAll needs ONE") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // count exchanges that would actually EXECUTE: stop at cache boundaries
    // (an InMemoryRelation's stored child plan still prints its exchange)
    def liveExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      if (p.getClass.getSimpleName.startsWith("InMemoryTableScan")) 0
      else (if (p.getClass.getSimpleName.startsWith("ShuffleExchange")) 1 else 0) +
        p.children.map(liveExchanges).sum
    val tracks = s.createDataset(Seq(graft.model.Schemas.Track(1, 1,
      Array(Array(4.35, 50.85), Array(4.351, 50.851)))))
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val result = graft.pipeline.HeatmapPipeline.run(tracks, k = 1)
    try {
      result.tiles.count() // materialize the cache boundary
      val z14Plan = graft.mvt.MvtJobs.encodeZ14FromTileCells(result.tiles, k = 1)
        .toDF().queryExecution.executedPlan
      assert(liveExchanges(z14Plan) === 0, z14Plan) // narrow over the cache
      val allPlan = graft.pipeline.HeatmapPipeline.mvtAll(result)
        .toDF().queryExecution.executedPlan
      // exactly one: the lower-level tile grouping — the sibling-partial
      // merge is fused into the encode group (MvtJobs.encodeLowerFused),
      // so the separate pixel-grain pyramid-merge exchange is gone
      assert(liveExchanges(allPlan) === 1, allPlan)
    } finally {
      result.release()
      s.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("pyramid: ONE exchange for all 15 levels") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val z14 = s.createDataset(Seq(graft.model.Schemas.GlobalPixel(14, 100, 100, 3, 5)))
    val plan = physical(graft.agg.Pyramid.mergePartials(graft.agg.Pyramid.ancestorPartials(z14)).toDF())
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, plan)
  }

  test("dump-backed q_hm family shape: z14 layer AND z14 MVT encode are narrow over the tile relation") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset(Seq(graft.model.Schemas.Track(1, 1,
      Array(Array(4.35, 50.85), Array(4.351, 50.851)))))
    val dump = tempDir("cells-dump") + "/tc.parquet"
    graft.agg.HeatmapAgg.tileCells(graft.raster.Rasterize.tileVisits(tracks))
      .toDF().write.parquet(dump)
    val tc = s.read.parquet(dump).as[graft.model.Schemas.TileCells]
    // the shared-materialization scheme: once the tile relation is on disk,
    // the z14 layer (explode+filter) and the z14 MVT blobs (per-row encode)
    // are pure narrow reads — no exchange at any scale
    val layerPlan = physical(graft.agg.HeatmapAgg.cellsToPixels(tc, k = 1).toDF())
    assert(!layerPlan.contains("Exchange"), layerPlan)
    val mvtPlan = physical(graft.mvt.MvtJobs.encodeZ14FromTileCells(tc, k = 1).toDF())
    assert(!mvtPlan.contains("Exchange"), mvtPlan)
  }

  test("q_hm_from_images: ONE final tile_users aggregate, nothing persisted") {
    implicit val s: SparkSession = spark
    val df = graft.queries.GraftQueries.queries("q_hm_from_images")(s, sf)
    assert(df.count() === 15) // one row per zoom level
    val plan = physical(df)
    assert("functions=\\[tile_users\\(".r.findAllIn(plan).size === 1, plan)
    assert("functions=\\[partial_tile_users\\(".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("InMemory"), plan)
  }

  test("slippy_cell is a native expression, not a UDF") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val plan = physical(Seq((4.35, 50.85)).toDF("lon", "lat")
      .select(graft.functions.SlippyFunctions.slippyCell(s, col("lon"), col("lat"), 14)))
    assert(plan.contains("slippy_cell"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
