package graft.ann

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash-safe IVF maintenance: the service-driven index (first batch
 * builds, later batches append against frozen centroids, atomic cursor
 * commits) must hold exactly one row per vector at every committed point
 * and answer full probes exactly like brute force — including after
 * injected mid-append crashes, which previously (bare `Ann.appendIvf`)
 * left partial batches and duplicated vec_ids on retry.
 */
class IvfServiceSpec extends AnyFunSuite with graft.TempDirs {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(4, "ivf-service-spec")

  private def vecs(n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new java.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
  }

  test("multi-batch service run == one-shot index; re-run is a no-op") {
    import spark.implicits._
    val data = vecs(300)
    val df = data.toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("ivf-service").toString
    try {
      val head = IvfService.run(df, state, batchSize = 100, nLists = 8, iters = 2)
      assert(head.version === 3 && head.cursor === 300L)
      val idx = IvfService.indexDir(state)
      // exactly one row per vector, no duplicates
      val ids = spark.read.parquet(s"$idx/vectors").select("vec_id").as[Long].collect()
      assert(ids.length === 300 && ids.toSet.size === 300)
      // full probe == brute force over the whole corpus
      val q = data.head._2
      val got = Ann.ivfTopKIndexed(idx, q, 10, nProbe = 8, excludeId = Some(0L))
        .as[(Long, Double)].collect().map(_._1).toSeq
      val want = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect().map(_._1).toSeq
      assert(got === want)
      // resume no-op
      assert(IvfService.run(df, state, batchSize = 100, nLists = 8, iters = 2) === head)
      assert(spark.read.parquet(s"$idx/vectors").count() === 300L)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash mid-append: recovery excises the partial batch, resume does not duplicate") {
    import spark.implicits._
    val data = vecs(300)
    val df = data.toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("ivf-service-crash").toString
    try {
      IvfService.run(df.where(col("vec_id") < 100), state, batchSize = 100, nLists = 8, iters = 2)
      // simulate: batch (partially) appended into the next index version,
      // HEAD unmoved
      Ann.appendIvf(df.where(col("vec_id") >= 100 && col("vec_id") < 150),
        graft.dedup.ServiceStates.nextIndex(state))
      // resume: the orphan version is deleted, the batch re-runs exactly once
      IvfService.run(df, state, batchSize = 100, nLists = 8, iters = 2)
      val idx = IvfService.indexDir(state)
      val ids = spark.read.parquet(s"$idx/vectors").select("vec_id").as[Long].collect()
      assert(ids.length === 300 && ids.toSet.size === 300,
        s"duplicate or missing vec_ids after crash recovery (${ids.length} rows)")
      val q = data.head._2
      val got = Ann.ivfTopKIndexed(idx, q, 10, nProbe = 8, excludeId = Some(0L))
        .as[(Long, Double)].collect().map(_._1).toSeq
      val want = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect().map(_._1).toSeq
      assert(got === want)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("compaction crash between its two renames rolls back on resume (no stranded corpus)") {
    import spark.implicits._
    val data = vecs(300)
    val df = data.toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("ivf-service-compact-crash").toString
    try {
      IvfService.run(df.where(col("vec_id") < 200), state, batchSize = 100, nLists = 8, iters = 2)
      // simulate Ann.compactIvf dying between its two renames inside the
      // uncommitted next version: vectors gone, backup present, NLISTS
      // intact — an append into that version would write a fresh
      // batch-only vectors table
      val next = graft.dedup.ServiceStates.nextIndex(state)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(next, "vectors"),
        java.nio.file.Paths.get(next, "vectors.old"))
      IvfService.run(df, state, batchSize = 100, nLists = 8, iters = 2)
      val idx = IvfService.indexDir(state)
      val ids = spark.read.parquet(s"$idx/vectors").select("vec_id").as[Long].collect()
      assert(ids.length === 300 && ids.toSet.size === 300,
        s"stranded or duplicated vec_ids after compaction-crash recovery (${ids.length} rows)")
      val q = data.head._2
      val got = Ann.ivfTopKIndexed(idx, q, 10, nProbe = 8, excludeId = Some(0L))
        .as[(Long, Double)].collect().map(_._1).toSeq
      val want = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect().map(_._1).toSeq
      assert(got === want)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("a first batch smaller than nLists does not wedge later appends (NLISTS = actual count)") {
    import spark.implicits._
    val data = vecs(30)
    val df = data.toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("ivf-service-small").toString
    try {
      // first batch (10 vectors) trains fewer centroids than the requested
      // nLists=16 — the guard must compare against the ACTUAL table, or
      // every subsequent append throws and the service is stuck forever
      val head = IvfService.run(df, state, batchSize = 10, nLists = 16, iters = 1)
      assert(head.version === 3 && head.cursor === 30L)
      val ids = spark.read.parquet(s"${IvfService.indexDir(state)}/vectors")
        .select("vec_id").as[Long].collect()
      assert(ids.length === 30 && ids.toSet.size === 30)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash during the first build: state resets and the run completes") {
    import spark.implicits._
    val data = vecs(120)
    val df = data.toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("ivf-service-first").toString
    try {
      // partial first build into index/v1 (no NLISTS yet — crashed before
      // the marker), HEAD never written
      val v1 = java.nio.file.Paths.get(state, "index", "v1").toString
      Ann.buildIvfIndex(df.where(col("vec_id") < 50), v1, nLists = 8, iters = 1)
      java.nio.file.Files.delete(java.nio.file.Paths.get(v1, "NLISTS"))
      IvfService.run(df, state, batchSize = 200, nLists = 8, iters = 2)
      val ids = spark.read.parquet(s"${IvfService.indexDir(state)}/vectors")
        .select("vec_id").as[Long].collect()
      assert(ids.length === 120 && ids.toSet.size === 120)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("a state whose HEAD has no index/v<HEAD> is refused and left untouched") {
    import spark.implicits._
    val df = vecs(200).toDF("vec_id", "embedding")
    val state = tempDir("ivf-service-legacy")
    // the older layout: centroids, vectors and NLISTS directly in index/
    IvfService.run(df.where(col("vec_id") < 100), state, batchSize = 100, nLists = 8, iters = 1)
    graft.dedup.ServiceStates.unversionIndex(state)
    val before = graft.dedup.ServiceStates.tree(state)
    val e = intercept[IllegalStateException] {
      IvfService.run(df, state, batchSize = 100, nLists = 8, iters = 1)
    }
    assert(e.getMessage.contains(state) && e.getMessage.contains("index/v1"),
      s"refusal does not name the state and the missing index/v1: ${e.getMessage}")
    assert(graft.dedup.ServiceStates.tree(state) === before, "the refused state was modified")
  }
}
