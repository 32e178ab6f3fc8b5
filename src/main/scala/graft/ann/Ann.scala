package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.TraceSynth.mix64

/**
 * Similarity search over an embedding column (Array[Float]).
 *
 * Baseline: brute-force cosine top-k — a narrow map over a broadcast query
 * vector, codegen'd via `aggregate`/`zip_with` (no UDF). Scale path:
 * random-hyperplane LSH bucketing (sign-bit SimHash of the embedding)
 * turning candidate generation into an equi-join on bucket prefixes.
 */
object Ann {

  /** Cosine similarity of an array<double> column vs a second one. */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), (acc, v) => acc + v)
    dot / (sqrt(na) * sqrt(nb))
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** All cosine similarities vs one stored query vector (exact, oracle-able).
    * The scan uses the codegen'd `cosine_sim` expression — one fused pass
    * over the float array, bitwise-equal to `cosineCol`
    * (CosineExpressionsSpec) — instead of three higher-order-function
    * traversals. */
  def cosineToVec(emb: DataFrame, queryVecId: Long)(implicit spark: SparkSession): DataFrame = {
    val q = emb.where(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("q_emb"))
    emb.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.CosineFunctions.cosineSim(spark, col("embedding"), col("q_emb")).as("sim"))
  }

  /** Brute-force top-k by cosine (deterministic order: sim desc, vec_id). */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int)(
      implicit spark: SparkSession): DataFrame =
    cosineToVec(emb, queryVecId)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i). */
  def planeComponent(p: Int, i: Int): Double = {
    // uniform in [-1, 1) from a seeded hash — no RNG state, executor-safe
    val h = mix64(p.toLong * 1315423911L ^ i.toLong)
    (h >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** Sign-bit LSH bucket of an embedding under `nPlanes` hyperplanes. */
  def lshBucket(v: Array[Float], nPlanes: Int = 16): Long = {
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * planeComponent(p, i); i += 1 }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Embedding relation + LSH bucket column (the scale-path index). */
  def withLshBuckets(emb: DataFrame, nPlanes: Int = 16)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, v) => (id, lshBucket(v, nPlanes)) }
      .toDF("vec_id", "bucket")
  }

  /** LSH-bucketed ANN: candidates share a bucket; exact cosine refine.
    * Returns (a, b, sim) candidate near-dup pairs with sim >= threshold.
    * Like Dedup.minhashNearDups, the bucket self-join is capped at
    * `maxBucket` members per bucket (a degenerate bucket — e.g. a cluster
    * of identical embeddings — would go O(n²)); drops are observable via
    * `capObs`, never silent (AnnSpec gates the pathological case). */
  def lshNearDupPairs(emb: DataFrame, threshold: Double = 0.95, nPlanes: Int = 12,
                      maxBucket: Int = 256,
                      capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val b = withLshBuckets(emb, nPlanes)
    val capped = graft.spark.BucketCap.cap(b, Seq("bucket"), maxBucket, capObs)
    val withVec = capped.join(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")), "vec_id")
    withVec.as("l").join(withVec.as("r"),
        $"l.bucket" === $"r.bucket" && $"l.vec_id" < $"r.vec_id")
      .select($"l.vec_id".as("a"), $"r.vec_id".as("b"),
        // pair verify is the hot path at scale: the codegen'd fused loop,
        // bitwise-equal to cosineCol (CosineExpressionsSpec)
        graft.functions.CosineFunctions.cosineSim(spark, $"l.v", $"r.v").as("sim"))
      .where($"sim" >= threshold)
  }

  // -- IVF (inverted-file) coarse index ---------------------------------------

  /** Cosine similarity of a Float vector vs a Double centroid (kernel). */
  def cosineKernel(v: Array[Float], c: Array[Double]): Double = {
    var dot = 0.0; var nv = 0.0; var nc = 0.0
    var i = 0
    while (i < v.length) {
      dot += v(i) * c(i); nv += v(i).toDouble * v(i); nc += c(i) * c(i)
      i += 1
    }
    if (nv == 0 || nc == 0) -1.0 else dot / (math.sqrt(nv) * math.sqrt(nc))
  }

  /** Index of the most-cosine-similar centroid. */
  def nearestList(v: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosineKernel(v, centroids(c))
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  /** Deterministic IVF training: k-means on cosine geometry. Init = the
    * nLists vectors with smallest mix64(vec_id) (seeded, executor-order
    * independent); each iteration assigns every vector to its nearest
    * centroid (narrow map over a broadcast centroid table) and recomputes
    * means with one dim-exploded aggregation. Centroid count is tiny
    * (≤ thousands), so the driver-side table is a legitimate broadcast. */
  def ivfCentroids(emb: DataFrame, nLists: Int = 16, iters: Int = 3)(
      implicit spark: SparkSession): Array[Array[Double]] = {
    import spark.implicits._
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
    var centroids: Array[Array[Double]] = vecs
      .map { case (id, v) => (mix64(id), v) }
      .orderBy($"_1").limit(nLists)
      .collect().map(_._2.map(_.toDouble))
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centroids)
      val sums = vecs
        .map { case (_, v) => (nearestList(v, bc.value), v.map(_.toDouble)) }
        .toDF("list_id", "v")
        .select(col("list_id"), posexplode(col("v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next // empty lists keep their previous centroid
    }
    centroids
  }

  /** vec_id → IVF list assignment (at cluster scale: the write-partition /
    * bucket key of the index table, so a probe prunes to nProbe lists). */
  def ivfAssign(emb: DataFrame, centroids: Array[Array[Double]])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestList(v, bc.value)) }
      .toDF("vec_id", "list_id")
  }

  /** IVF top-k: probe the query's nProbe nearest lists, exact cosine inside.
    * nProbe == nLists degenerates to the exact scan (oracle-able); smaller
    * nProbe trades recall for scanning only ~nProbe/nLists of the table. */
  def ivfTopK(emb: DataFrame, queryVecId: Long, k: Int, nProbe: Int = 4,
              nLists: Int = 16, iters: Int = 3)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val centroids = ivfCentroids(emb, nLists, iters)
    val q = emb.where(col("vec_id") === queryVecId)
      .select("embedding").as[Array[Float]].head()
    val probes = centroids.indices
      .sortBy(c => -cosineKernel(q, centroids(c))).take(nProbe).toSet
    val assigned = ivfAssign(emb, centroids)
    emb.join(assigned, "vec_id")
      .where(col("list_id").isin(probes.toSeq: _*) && col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(emb.where(col("vec_id") === queryVecId)
        .select(asDouble(col("embedding")).as("q_emb"))))
      .select(col("vec_id"),
        graft.functions.CosineFunctions.cosineSim(spark, col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  private def nListsFile(dir: String) = java.nio.file.Paths.get(dir, "NLISTS")

  /** Build-parameter guard (the LshIndex PARAMS / PhashIndex MAXDIST
    * pattern): NLISTS is written LAST at build, so a crashed build — or a
    * rebuilt-centroids dir swapped under a live reader — reads as "no
    * complete index" / "layout mismatch" instead of silently assigning
    * appends against centroids the vectors table wasn't partitioned by. */
  private def checkNLists(dir: String, found: Int): Unit = {
    require(java.nio.file.Files.exists(nListsFile(dir)),
      s"no complete IVF index at $dir (NLISTS missing — build writes it last, so a " +
        "crashed build reads as absent; an index built before the NLISTS marker " +
        "existed needs a one-time rebuild)")
    val stored = new String(
      java.nio.file.Files.readAllBytes(nListsFile(dir)), "UTF-8").trim.toInt
    require(stored == found,
      s"IVF index at $dir declares nLists=$stored but its centroid table has " +
        s"$found rows — the centroids were swapped under the vectors table; " +
        "rebuild the index as one unit")
  }

  /** Build and PERSIST the IVF index: a tiny centroid table plus the
    * vector table hive-partitioned by `list_id` — the index-once / query-
    * many shape. At cluster scale the list id is the physical partition
    * key, so a probe's scan is bounded by nProbe directories (directory
    * pruning), ~nProbe/nLists of the table, regardless of total size.
    * Writes NLISTS last — the completion marker append/probe verify. */
  def buildIvfIndex(emb: DataFrame, dir: String, nLists: Int = 16, iters: Int = 3)(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    java.nio.file.Files.deleteIfExists(nListsFile(dir))
    val centroids = ivfCentroids(emb, nLists, iters)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(emb, centroids).join(emb, "vec_id")
      .repartition(col("list_id")) // one file per list dir
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/vectors")
    // the ACTUAL centroid count, not the requested nLists — ivfCentroids
    // caps the table at the corpus size, and the guard compares against
    // the table (a corpus smaller than nLists must not wedge the index)
    java.nio.file.Files.write(nListsFile(dir), centroids.length.toString.getBytes("UTF-8"))
  }

  /** Append a batch to a persisted IVF index with FROZEN centroids — the
    * arrival-time posture every production IVF runs (centroids are
    * trained once at build; retraining is a rebuild). New vectors assign
    * to their nearest existing centroid and append into the list
    * partition dirs, so a subsequent probe sees built and appended
    * vectors identically; with frozen centroids the appended table is
    * bit-equal to assigning the whole corpus at once. Completes the
    * index-once/probe-many maintenance triad (text `LshIndex.append`,
    * image `PhashIndex.append`, embeddings here). Like those, each
    * append adds one file per touched list dir — run `compactIvf`
    * periodically (same crash-safe two-rename as the dedup indexes).
    *
    * CONTRACT — this method alone is neither atomic nor idempotent: a
    * crash mid-append leaves a partially visible batch, and re-invoking
    * after a failure duplicates vec_ids (mode "append", no marker).
    * `graft.ann.IvfService` runs it only inside an uncommitted
    * `index/v<N+1>` that HEAD moves to after it returns (the versioned
    * protocol the dedup indexes use) — a resident service appends through
    * IT, never through this method directly. */
  def appendIvf(newEmb: DataFrame, dir: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    graft.dedup.IndexFiles.recover(dir, "vectors")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select("list_id", "centroid").as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    checkNLists(dir, centroids.length)
    ivfAssign(newEmb, centroids).join(newEmb, "vec_id")
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$dir/vectors")
  }

  /** Rewrite the vectors table to one file per list dir (append
    * fragmentation maintenance; centroids are a single tiny file and
    * never fragment). */
  def compactIvf(dir: String)(implicit spark: SparkSession): Unit =
    graft.dedup.IndexFiles.compactDir(dir, "vectors", partitioned = true,
      partCol = "list_id")

  /** Query a persisted IVF index: read the (tiny) centroid table, pick the
    * query's nProbe nearest lists, then an exact cosine top-k over ONLY
    * those list partitions (the `list_id` filter is a partition filter —
    * AnnSpec asserts it lands as directory pruning). */
  def ivfTopKIndexed(dir: String, query: Array[Float], k: Int, nProbe: Int,
                     excludeId: Option[Long] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.dedup.IndexFiles.recover(dir, "vectors")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select("list_id", "centroid").as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    checkNLists(dir, centroids.length)
    val probes = centroids.indices
      .sortBy(c => -cosineKernel(query, centroids(c))).take(nProbe)
    val qDf = Seq(query.map(_.toDouble)).toDF("q_emb")
    val base = spark.read.parquet(s"$dir/vectors")
      .where(col("list_id").isin(probes.map(Integer.valueOf): _*))
    excludeId.fold(base)(id => base.where(col("vec_id") =!= id))
      .crossJoin(broadcast(qDf))
      .select(col("vec_id"),
        graft.functions.CosineFunctions.cosineSim(spark, col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** EMBEDDING-side canonical resolution — the keep-list step after
    * near-dup pair detection, completing the cluster-resolution triad
    * (text `Dedup.dedupClusters`, image `Dedup.phashClusters`, and this):
    * LSH-bucketed cosine pairs resolved to connected components;
    * cluster_id = min vec_id of the component, singletons keep themselves.
    * Output (id, cluster_id); `Dedup.applyKeepList` over it yields the
    * deduplicated embedding corpus. */
  def lshClusters(emb: DataFrame, threshold: Double = 0.95, nPlanes: Int = 12,
                  maxBucket: Int = 256)(
      implicit spark: SparkSession): DataFrame =
    graft.dedup.Dedup.connectedComponents(
      lshNearDupPairs(emb, threshold, nPlanes, maxBucket).select("a", "b"),
      emb.select("vec_id"))

  /** Exact brute-force near-dup pairs (oracle for the LSH recall tests). */
  def exactNearDupPairs(emb: DataFrame, threshold: Double)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    v.as("l").join(v.as("r"), $"l.vec_id" < $"r.vec_id")
      .select($"l.vec_id".as("a"), $"r.vec_id".as("b"),
        graft.functions.CosineFunctions.cosineSim(spark, $"l.v", $"r.v").as("sim"))
      .where($"sim" >= threshold)
  }
}
