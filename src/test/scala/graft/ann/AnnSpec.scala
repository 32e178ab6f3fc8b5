package graft.ann

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ANN operators vs in-memory exact oracles. */
class AnnSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "ann-spec")

  private def vecs(n: Int, dim: Int = 16): Seq[(Long, Array[Float])] = {
    val rnd = new java.util.Random(5)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("brute-force top-k matches the in-memory oracle exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val data = vecs(500)
    val df = data.toDF("vec_id", "embedding")
    val got = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect()
    val q = data.head._2
    val want = data.tail
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(10)
    assert(got.map(_._1).toSeq === want.map(_._1).toSeq)
    got.zip(want).foreach { case ((_, gs), (_, ws)) => assert(math.abs(gs - ws) < 1e-12) }
  }

  test("lsh bucket is deterministic and similar vectors collide more") {
    val rnd = new java.util.Random(11)
    val base = Array.fill(32)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val far = Array.fill(32)(rnd.nextGaussian().toFloat)
    assert(Ann.lshBucket(base) === Ann.lshBucket(base))
    val dNear = java.lang.Long.bitCount(Ann.lshBucket(base, 16) ^ Ann.lshBucket(near, 16))
    val dFar = java.lang.Long.bitCount(Ann.lshBucket(base, 16) ^ Ann.lshBucket(far, 16))
    assert(dNear <= dFar)
    assert(dNear <= 2)
  }

  test("lsh near-dup pairs ⊆ exact pairs, with high recall on planted dups") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rnd = new java.util.Random(23)
    // plant 20 near-duplicate pairs among 200 random vectors
    val base = vecs(200, 32)
    val planted = (0 until 20).map { i =>
      val (_, v) = base(i)
      (1000L + i, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val exact = Ann.exactNearDupPairs(df, 0.99).select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshNearDupPairs(df, 0.99, nPlanes = 8).select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (exact refine)")
    val plantedPairs = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    assert(plantedPairs.subsetOf(exact))
    val recall = lsh.intersect(plantedPairs).size.toDouble / plantedPairs.size
    assert(recall >= 0.8, s"LSH recall $recall")
  }

  test("IVF: full probe equals brute force exactly; partial probe has high recall") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val df = vecs(400, 16).toDF("vec_id", "embedding")
    val exact = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect().toSeq
    // nProbe == nLists scans every list → must equal the exact scan
    val full = Ann.ivfTopK(df, 0L, 10, nProbe = 16, nLists = 16).as[(Long, Double)].collect().toSeq
    assert(full.map(_._1) === exact.map(_._1))
    full.zip(exact).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    // partial probe: scan ~1/4 of the lists, keep most of the true top-k
    val partial = Ann.ivfTopK(df, 0L, 10, nProbe = 4, nLists = 16).as[(Long, Double)].collect()
    val recall = partial.map(_._1).toSet.intersect(exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.7, s"IVF recall $recall")
    // assignments partition the table (every vector in exactly one list)
    val cents = Ann.ivfCentroids(df, 16, 3)
    val assigned = Ann.ivfAssign(df, cents)
    assert(assigned.count() === 400)
    assert(assigned.select("list_id").distinct().count() <= 16)
  }

  test("persisted IVF index: full probe == brute force, probe scan is partition-pruned") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val data = vecs(400)
    val df = data.toDF("vec_id", "embedding")
    val dir = tempDir("ivf-index")
    Ann.buildIvfIndex(df, dir, nLists = 16, iters = 3)
    val q = data.head._2

    // full probe degenerates to the exact scan
    val got = Ann.ivfTopKIndexed(dir, q, 10, nProbe = 16, excludeId = Some(0L))
      .as[(Long, Double)].collect()
    val want = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq === want.map(_._1).toSeq)

    // partial probe: high recall at a quarter of the lists
    val part = Ann.ivfTopKIndexed(dir, q, 10, nProbe = 4, excludeId = Some(0L))
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = want.map(_._1).count(part.contains).toDouble / want.length
    assert(recall >= 0.7, s"recall $recall")

    // the list_id filter must land as DIRECTORY pruning, not a post-scan
    // filter — the property that bounds the probe at any table size
    val plan = Ann.ivfTopKIndexed(dir, q, 10, nProbe = 4, excludeId = Some(0L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(2000))

    // one file per list partition (index hygiene)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "vectors"))
    val parquets = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally files.close()
    assert(parquets <= 16, s"$parquets files for 16 lists")
  }

  test("IVF append: frozen-centroid assignment exact, probe == brute force, compaction + crash window") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val data = vecs(400)
    val df = data.toDF("vec_id", "embedding")
    val dir = tempDir("ivf-append")
    val (built, rest) = (data.filter(_._1 < 250), data.filter(_._1 >= 250))
    Ann.buildIvfIndex(built.toDF("vec_id", "embedding"), dir, nLists = 16, iters = 3)
    // two appends (fragmentation is per touched dir per batch)
    Ann.appendIvf(rest.filter(_._1 < 325).toDF("vec_id", "embedding"), dir)
    Ann.appendIvf(rest.filter(_._1 >= 325).toDF("vec_id", "embedding"), dir)

    // appended rows land in their nearest FROZEN-centroid list — the
    // whole table equals a one-shot assignment under the same centroids
    val frozen = s.read.parquet(s"$dir/centroids")
      .select("list_id", "centroid").as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    val stored = s.read.parquet(s"$dir/vectors")
      .select("vec_id", "list_id").as[(Long, Int)].collect().toSet
    val oneShot = Ann.ivfAssign(df, frozen)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toSet
    assert(stored === oneShot, "append assignment diverged from one-shot frozen-centroid assignment")

    // full probe over the appended index is exact over the WHOLE corpus
    val q = data.head._2
    val want = Ann.bruteForceTopK(df, 0L, 10).as[(Long, Double)].collect()
    def got(): Seq[Long] =
      Ann.ivfTopKIndexed(dir, q, 10, nProbe = 16, excludeId = Some(0L))
        .as[(Long, Double)].collect().map(_._1).toSeq
    assert(got() === want.map(_._1).toSeq)

    // compaction: strictly fewer files, one per live dir, results unchanged
    def vecFiles(): Int = {
      val root = new java.io.File(s"$dir/vectors")
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
        .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    }
    val filesBefore = vecFiles()
    Ann.compactIvf(dir)
    val filesAfter = vecFiles()
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count (before=$filesBefore after=$filesAfter)")
    val dirsAfter = new java.io.File(s"$dir/vectors").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("list_id="))
    assert(filesAfter === dirsAfter, "exactly one file per live partition after compaction")
    assert(got() === want.map(_._1).toSeq, "compaction changed probe results")

    // crash window: live renamed away, .old present — probe must recover
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "vectors"), java.nio.file.Paths.get(dir, "vectors.old"))
    assert(got() === want.map(_._1).toSeq, "probe did not roll back a crashed compaction")
  }

  test("IVF layout guard: a centroid-table swap or a crashed build fails loudly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val data = vecs(200)
    val dir = tempDir("ivf-guard")
    Ann.buildIvfIndex(data.toDF("vec_id", "embedding"), dir, nLists = 16, iters = 1)
    val q = data.head._2
    // swap in a rebuilt centroid table with a DIFFERENT list count under
    // the live vectors table: probes/appends must refuse (the vectors
    // table's partitioning no longer matches the centroid geometry)
    val other = tempDir("ivf-guard2")
    Ann.buildIvfIndex(data.toDF("vec_id", "embedding"), other, nLists = 8, iters = 1)
    graft.stream.StreamDedup.deleteTree(s"$dir/centroids")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(other, "centroids"), java.nio.file.Paths.get(dir, "centroids"))
    val e = intercept[IllegalArgumentException] {
      Ann.ivfTopKIndexed(dir, q, 10, nProbe = 8)
    }
    assert(e.getMessage.contains("swapped under"))
    intercept[IllegalArgumentException] {
      Ann.appendIvf(Seq(data.head).toDF("vec_id", "embedding"), dir)
    }
    // a crashed build (NLISTS never written) reads as "no complete index"
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "NLISTS"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.ivfTopKIndexed(dir, q, 10, nProbe = 8)
    }
    assert(e2.getMessage.contains("NLISTS missing"))
  }

  test("lshClusters == union-find over the engine's own pair relation (embedding keep-list)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rnd = new java.util.Random(23)
    // chains of planted near-dups so clusters are transitive, not just pairs:
    // base(i) ~ 1000+i ~ 2000+i (two perturbations of the same vector)
    val base = vecs(200, 32)
    val planted = (0 until 20).flatMap { i =>
      val (_, v) = base(i)
      Seq((1000L + i, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)),
          (2000L + i, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Ann.lshNearDupPairs(df, 0.99, nPlanes = 8)
      .select("a", "b").as[(Long, Long)].collect()
    val got = Ann.lshClusters(df, 0.99, nPlanes = 8).as[(Long, Long)].collect().toMap
    // oracle: union-find with path compression over the SAME pair relation
    // (pair correctness is the subset/recall test above; this test pins the
    // composition: pairs → components → canonical min-id labels)
    val ids = (base ++ planted).map(_._1)
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.size)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id labeling: the canonical id is the min MEMBER id, which under
    // the sorted-union-find above is ids(root) only if ids is sorted — map
    // each root to the min id of its members instead
    val members = ids.groupBy(id => find(idx(id)))
    val want = members.flatMap { case (_, ms) => ms.map(_ -> ms.min) }
    assert(got === want)
    // planted chains must merge: base(i), 1000+i, 2000+i share a cluster
    // (recall over the chain is what the pair test already gated at 0.8;
    // require most chains fully merged)
    val merged = (0 until 20).count(i =>
      got(i.toLong) == got(1000L + i) && got(i.toLong) == got(2000L + i))
    assert(merged >= 16, s"only $merged/20 planted chains merged")
  }

  test("bucket cap bounds a degenerate embedding cluster; drops are observed") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rnd = new java.util.Random(23)
    val base = vecs(200, 32)
    val planted = (0 until 20).map { i =>
      val (_, v) = base(i)
      (1000L + i, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    // 300 identical embeddings — one bucket holds them all; uncapped the
    // self-join would emit 300·299/2 pairs from that bucket alone
    val cluster = {
      val v = Array.fill(32)(rnd.nextGaussian().toFloat)
      (5000L until 5300L).map(i => (i, v.clone()))
    }
    val df = (base ++ planted ++ cluster).toDF("vec_id", "embedding")

    val obs = org.apache.spark.sql.Observation("ann-cap")
    val got = Ann.lshNearDupPairs(df, 0.99, nPlanes = 8, maxBucket = 50, capObs = Some(obs))
      .select("a", "b").as[(Long, Long)].collect()

    val metrics = obs.get
    assert(metrics("dropped_rows").asInstanceOf[Long] >= 300L)
    assert(metrics("dropped_buckets").asInstanceOf[Long] > 0L)
    assert(!got.exists { case (a, b) => a >= 5000L && b >= 5000L },
      "capped cluster must not produce quadratic pairs")
    val plantedPairs = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    val recall = got.toSet.intersect(plantedPairs).size.toDouble / plantedPairs.size
    assert(recall >= 0.8, s"recall under cap $recall")
  }
}
