package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.TraceSynth.mix64

/**
 * Near-duplicate detection primitives for the training-data pipeline:
 * MinHash + banded LSH, SimHash, n-gram Jaccard. Pure kernels (testable
 * without Spark) + DataFrame jobs.
 *
 * Scale shape: shingle → minhash is a narrow map; candidate generation is
 * an equi-join on (band, bucket) — the only shuffle — and the exact-Jaccard
 * refine runs only on bucket-colliding pairs. No pairwise O(n²) anywhere.
 */
object Dedup {

  /** Character n-gram shingle set. */
  def shingles(text: String, n: Int = 3): Set[String] =
    if (text == null || text.length < n) Set.empty
    else (0 to text.length - n).view.map(i => text.substring(i, i + n)).toSet

  /** 64-bit hash of a shingle (FNV-1a folded through splitmix). */
  def shingleHash(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  /** The per-slot seeds `mix64(seed + k)` — hoisted out of the
    * per-shingle loop (it was recomputed shingles × numHashes times; the
    * signature arithmetic is unchanged bit for bit). Tiny (numHashes
    * longs), rebuilt per signature call — still a ~2× cut of the mix64
    * count, the dominant prep cost per document. */
  private def seedMixes(numHashes: Int, seed: Long): Array[Long] = {
    val m = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) { m(k) = mix64(seed + k); k += 1 }
    m
  }

  /** MinHash signature: min over shingles of mix64(hash ^ seed_k). */
  def minhash(sh: Set[String], numHashes: Int = 64, seed: Long = 42L): Array[Long] = {
    val seedMix = seedMixes(numHashes, seed)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val h0 = shingleHash(s)
      var k = 0
      while (k < numHashes) {
        val hk = mix64(h0 ^ seedMix(k))
        if (hk < sig(k)) sig(k) = hk
        k += 1
      }
    }
    sig
  }

  /** Banded LSH bucket keys for a signature: one 64-bit key per band. */
  def lshBands(sig: Array[Long], bands: Int = 16): Array[Long] = {
    val rowsPerBand = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0xCBF29CE484222325L ^ b
      var r = 0
      while (r < rowsPerBand) {
        h = mix64(h ^ sig(b * rowsPerBand + r))
        r += 1
      }
      h
    }
  }

  /** Exact Jaccard similarity of two shingle sets. */
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble

  /** SimHash-64 over whitespace tokens (unit weights). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    if (text != null) text.split(" ", -1).foreach { tok =>
      if (tok.nonEmpty) {
        val h = shingleHash(tok)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // -- Spark jobs --------------------------------------------------------------

  /** Exact Jaccard of two SORTED distinct-hash arrays (merge intersect). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** MinHash-LSH near-dup candidate pairs with exact-Jaccard refine.
    * docs(doc_id: Long, text: String) → (a, b, jaccard) with a < b.
    * Shingle sets are hashed + sorted ONCE per document (not per candidate
    * pair); the refine is a linear merge-intersect over the sorted hashes —
    * exact because the 64-bit shingle hash is collision-free at corpus
    * scale (documented approximation; the kernel `jaccard` on raw string
    * sets remains the test oracle).
    *
    * Scale guard: the bucket self-join is quadratic in bucket size, so a
    * degenerate bucket (boilerplate corpus: thousands of near-identical
    * docs hashing to one (band, bucket)) is capped at `maxBucket` members —
    * ALL members of an over-full bucket are dropped from THAT band only;
    * the same pair usually still collides in another, smaller band, and a
    * truly boilerplate group is better handled by exact dedup first. The
    * drop is not silent: pass an `Observation` to read (dropped_rows,
    * dropped_buckets) after the first action (DedupSpec gates this).
    *
    * The returned frame is eagerly checkpointed (the job released its own
    * working cache before returning); a resident session keeping MANY such
    * results alive should release each with `releaseCheckpoint` when done —
    * otherwise the blocks live until ContextCleaner GCs the reference. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.7,
                      numHashes: Int = 64, bands: Int = 16,
                      maxBucket: Int = 256,
                      capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val prepared = shingleSigs(docs, numHashes)
    prepared.persist()
    val buckets = prepared.flatMap { case (id, sh, sig) =>
      lshBands(sig, bands).zipWithIndex.map { case (h, b) => (id, b, h) }
    }.toDF("doc_id", "band", "bucket")
    val capped = graft.spark.BucketCap.cap(buckets, Seq("band", "bucket"), maxBucket, capObs)
    val shingleSets = prepared.map { case (id, sh, _) => (id, sh) }.toDF("doc_id", "sh")
    val cand = capped.as("l").join(capped.as("r"),
        $"l.band" === $"r.band" && $"l.bucket" === $"r.bucket" && $"l.doc_id" < $"r.doc_id")
      .select($"l.doc_id".as("a"), $"r.doc_id".as("b")).distinct()
    // refineJaccard materializes eagerly, so the persisted prepared
    // relation can be RELEASED before returning — the job owns its cache
    // lifetime (blocks of the checkpointed result are ContextCleaner-
    // managed, not a session-lifetime cacheManager entry)
    val out = refineJaccard(cand, shingleSets, threshold)
    prepared.unpersist()
    out
  }

  /** Exact-Jaccard verify of candidate pairs (a, b) against a
    * (doc_id, sh: sorted distinct hashes) relation — SHARED by
    * `minhashNearDups` and `LshIndex.probe`, so the refine semantics
    * cannot drift between the batch and index paths (the q_d8 oracle
    * depends on their equality). Returns an EAGERLY CHECKPOINTED
    * (a, b, jaccard) frame (see `releaseCheckpoint` for the caller
    * contract). */
  def refineJaccard(cand: DataFrame, shingles: DataFrame, threshold: Double)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // Two equi-joins on the endpoint columns, kept deliberately (r7 A/B):
    // when the candidate set is small the planner broadcasts it into BOTH
    // joins and the shingle payload never shuffles at all; the measured
    // explode-join-regroup alternative (join the payload once on doc_id,
    // reassemble per pair) forced a payload exchange and was ~40 % slower
    // at sf0.1 — and no better at scale, since its pair-regroup exchange
    // carries both arrays anyway.
    cand
      .join(shingles.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sha"), "a")
      .join(shingles.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "shb"), "b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (b, a, sha, shb) => (a, b, jaccardSorted(sha, shb)) }
      .toDF("a", "b", "jaccard")
      .where($"jaccard" >= threshold)
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"), $"jaccard")
      .localCheckpoint(true)
  }

  /** Sorted distinct shingle-hash values of `text` — equals
    * `shingles(text).map(shingleHash).toArray.sorted` exactly (equal
    * n-grams hash equal, and BOTH forms collapse any hash collision
    * between distinct n-grams into one value: the Set form via
    * `Set[Long]`, this one via the in-place dedupe), computed without the
    * per-position substring/Set allocations: one FNV pass per n-gram over
    * the char array, sort, dedupe. This is the hot per-document kernel of
    * every minhash prep stage (DedupSpec pins the equivalence on random
    * strings). */
  def shingleHashes(text: String, n: Int = 3): Array[Long] = {
    if (text == null || text.length < n) return Array.emptyLongArray
    val m = text.length - n + 1
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xCBF29CE484222325L // FNV-1a over chars [i, i+n), as shingleHash
      var j = i
      while (j < i + n) { h ^= text.charAt(j); h *= 0x100000001B3L; j += 1 }
      arr(i) = mix64(h)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0; var r = 0
    while (r < m) { if (w == 0 || arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }; r += 1 }
    if (w == m) arr else java.util.Arrays.copyOf(arr, w)
  }

  /** Per-document (doc_id, sorted shingle hashes, minhash signature) — the
    * narrow prep stage shared by `minhashNearDups` and the persisted LSH
    * index (`LshIndex`), so the shingle/signature definition cannot drift
    * between the batch and index paths. */
  def shingleSigs(docs: DataFrame, numHashes: Int = 64)(
      implicit spark: SparkSession): Dataset[(Long, Array[Long], Array[Long])] = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)].map { case (id, text) =>
      val sh = shingleHashes(text)
      (id, sh, minhashFromHashes(sh, numHashes))
    }
  }

  /** MinHash signature from pre-hashed shingles. */
  def minhashFromHashes(hashes: Array[Long], numHashes: Int = 64, seed: Long = 42L): Array[Long] = {
    val seedMix = seedMixes(numHashes, seed)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    hashes.foreach { h0 =>
      var k = 0
      while (k < numHashes) {
        val hk = mix64(h0 ^ seedMix(k))
        if (hk < sig(k)) sig(k) = hk
        k += 1
      }
    }
    sig
  }

  /** SimHash relation: doc_id → 64-bit fingerprint + its 4 16-bit blocks
    * (block-equality is the standard hamming≤3 candidate filter). */
  def simhashes(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val h = simhash64(text)
        (id, h, (h & 0xFFFFL), ((h >>> 16) & 0xFFFFL), ((h >>> 32) & 0xFFFFL), ((h >>> 48) & 0xFFFFL))
      }
      .toDF("doc_id", "simhash", "b0", "b1", "b2", "b3")
  }

  /** Batch SimHash near-dup pairs — the middle of the SimHash family
    * (q_d4 computes the hashes, the streaming path judges arrivals; this
    * is the batch join between them): exact hamming pairs over the 64-bit
    * SimHash via the SAME pigeonhole multi-index join as the image phash
    * path — `maxDist + 1` blocks, block-equality candidates (recall 1),
    * bit_count verify. Input docs(doc_id, text); output (a, b, dist),
    * a < b. Same BucketCap contract as `phashNearDups` (a boilerplate
    * corpus collapsing onto one hash would square the bucket join). */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3, maxBucket: Int = 4096,
                      capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame =
    phashNearDups(
      simhashes(docs).select(col("doc_id").as("id"), col("simhash").as("phash")),
      maxDist, maxBucket, capObs)

  /** Rolling-hash document fingerprint (winnowing-style min sample of
    * window hashes) — the "document fingerprinting" op. */
  def fingerprint(text: String, window: Int = 8): Long = {
    val sh = shingles(text, window)
    if (sh.isEmpty) 0L else sh.iterator.map(shingleHash).min
  }

  /**
   * EXACT n-gram Jaccard similarity self-join via a shingle inverted
   * index — the exact counterpart of `minhashNearDups`: pairs exist only
   * for documents SHARING a shingle (no all-pairs stage); the
   * intersection size falls out of that join by counting and the union
   * from |A| + |B| − |A∩B|. Shingles are SQL `substring` n-grams (same
   * definition the q_d2 oracle proved equal across engines).
   *
   * Scale guard: `maxDf` caps each shingle's posting list (the self-join
   * is quadratic in document frequency; a stop-shingle shared by half the
   * corpus would square). The cap is part of the SEMANTICS — similarity
   * is computed over the df-filtered shingle space, the classic stop-word
   * removal — so a capped run is deterministic and oracle-able, and the
   * drops are observable via `capObs`, never silent.
   *
   * Returns an eagerly-checkpointed frame — same caller-release contract
   * as `minhashNearDups` (see `releaseCheckpoint`).
   */
  /** The distinct (doc_id, shingle) relation over SQL-substring n-grams —
    * shared by `jaccardJoin` and the q_d2 catalog query so the shingle
    * definition cannot drift between them. NOTE two deliberate contract
    * points vs the Scala kernel `shingles`: (1) SQL `substring`/`length`
    * count Unicode CODE POINTS, the kernel counts UTF-16 units — equal on
    * BMP text (every test corpus), and the SQL semantics is the better one
    * (never splits a surrogate pair); (2) documents with fewer than n
    * characters produce NO rows — they have no shingles, and pairing
    * empty-shingle docs (kernel jaccard(∅,∅) = 1.0) would join all of
    * them pairwise at scale; route empty/short docs through exact dedup
    * instead. */
  def shingleRelation(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .where(length(col("text")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (n - 1))).as("i"), col("text"))
      .select(col("doc_id"), expr(s"substring(text, i, $n)").as("sh"))
      .distinct()

  def jaccardJoin(docs: DataFrame, threshold: Double, n: Int = 3,
                  maxDf: Int = 100000,
                  capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame = {
    // persisted: referenced by sizes AND both self-join sides — without it
    // one action re-runs the BucketCap join three times. Released below
    // after the eager result materialization (same self-owning cache
    // lifetime as minhashNearDups).
    val capped = graft.spark.BucketCap.cap(shingleRelation(docs, n), Seq("sh"), maxDf, capObs)
      .persist()
    // sizes measured on the SAME (capped) shingle space the intersections
    // count over — |A| and |A∩B| must live in one universe
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = capped.as("l").join(capped.as("r"),
        col("l.sh") === col("r.sh") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    capped.unpersist()
    out
  }

  /** Release the storage blocks behind a `localCheckpoint(true)`-backed
    * frame: the persisted RDD is the one embedded in the plan's LogicalRDD
    * node (`df.rdd` would build a NEW derived RDD whose unpersist is a
    * no-op on the checkpoint blocks). Walks below derived RDDs so
    * `freshLocalCheckpoint`-wrapped plans release too. Safe on
    * non-checkpointed frames (no LogicalRDD → nothing to release). */
  def releaseCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.graft.SparkInternals.releaseCheckpointBlocks(df)

  /** Blocks of a 64-bit fingerprint split into `n` pieces (the last block
    * takes the remainder bits). Pure kernel for the multi-index join. */
  def phashBlocks(ph: Long, n: Int): Seq[(Int, Long)] = {
    val width = 64 / n
    (0 until n).map { b =>
      val lo = b * width
      val w = if (b == n - 1) 64 - lo else width
      val mask = if (w == 64) -1L else (1L << w) - 1
      (b, (ph >>> lo) & mask)
    }
  }

  /**
   * EXACT hamming-distance near-duplicate pairs over 64-bit perceptual
   * hashes (image dedup on the input table's `phash` column).
   *
   * Multi-index blocking: the 64 bits split into `maxDist + 1` blocks; by
   * pigeonhole, two hashes within hamming `maxDist` agree on at least one
   * whole block, so block-equality candidate generation has recall exactly
   * 1 — the verify step (`bit_count(a xor b) <= maxDist`) makes the
   * operator exact, not approximate (unlike the MinHash/SimHash families).
   *
   * Scale shape: the only shuffles are the (block, value) equi-self-join
   * and the candidate `distinct`; both are bounded by Σ bucket² under the
   * `maxBucket` cap (a degenerate bucket — e.g. flat images sharing one
   * phash — is dropped from that block with exact observable metrics,
   * same contract as the LSH joins). No O(n²) anywhere.
   *
   * Input: (id: Long, phash: Long). Output: (a, b, dist) with a < b.
   */
  def phashNearDups(imgs: DataFrame, maxDist: Int = 3, maxBucket: Int = 4096,
                    capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame = {
    require(maxDist >= 0 && maxDist <= 15, s"maxDist $maxDist outside [0, 15]")
    import spark.implicits._
    val nBlocks = maxDist + 1
    val blocks = imgs.select("id", "phash").as[(Long, Long)]
      .flatMap { case (id, ph) => phashBlocks(ph, nBlocks).map { case (b, v) => (b, v, id, ph) } }
      .toDF("blk", "bval", "id", "phash")
    val capped = graft.spark.BucketCap.cap(blocks, Seq("blk", "bval"), maxBucket, capObs)
    capped.as("l").join(capped.as("r"),
        $"l.blk" === $"r.blk" && $"l.bval" === $"r.bval" && $"l.id" < $"r.id")
      .select($"l.id".as("a"), $"r.id".as("b"), $"l.phash".as("pa"), $"r.phash".as("pb"))
      .distinct() // a pair can collide on several blocks
      .withColumn("dist", bit_count($"pa".bitwiseXOR($"pb")).cast("long"))
      .where($"dist" <= maxDist)
      .select($"a", $"b", $"dist")
  }

  /**
   * Connected components over an undirected pair relation — the dedup
   * FINAL step: near-dup pairs only say "these two match"; a keep-list
   * needs every document labeled with its cluster's canonical id (the
   * minimum member id). `nodes` supplies the full id universe so
   * singletons label themselves.
   *
   * Algorithm: min-label propagation with POINTER JUMPING — each round
   * first takes the min label over graph neighbors (one edge join), then
   * path-halves by following each label to ITS label (one self-join), so
   * label chains collapse exponentially: O(log n) rounds even on a pure
   * path graph, not O(diameter). Every round is two equi-joins + one
   * aggregation, all key-partitioned — no driver-side graph state; the
   * one driver value per round is the convergence count. Rounds are
   * localCheckpoint-truncated (an iterative plan otherwise grows without
   * bound). Non-convergence inside `maxRounds` fails loudly rather than
   * returning a partial clustering.
   *
   * Input: pairs (a, b), nodes (id). Output: (id, cluster_id) with
   * cluster_id = min id of the component.
   *
   * PRECONDITION (enforced): every id in `pairs` must appear in `nodes` —
   * an orphan edge endpoint would get no label row yet still propagate
   * labels one-way, yielding a plausible-looking but incomplete clustering;
   * the method fails loudly instead (one cheap left-anti existence probe
   * before the loop).
   *
   * Cache lifetime: intermediate per-round checkpoints are unpersisted as
   * soon as the next round supersedes them; the RETURNED frame stays backed
   * by the final round's checkpoint blocks. Callers that keep the result
   * long-lived in a resident session should release it with
   * `Dedup.releaseCheckpoint` when done (NOT `.rdd.unpersist()`, which
   * builds a new derived RDD and is a no-op on the checkpoint blocks;
   * absent a release, ContextCleaner reclaims them on GC of the
   * reference) — the same contract as the checkpointed results of
   * `minhashNearDups` / `jaccardJoin`.
   */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame, maxRounds: Int = 25)(
      implicit spark: SparkSession): DataFrame =
    connectedComponentsImpl(pairs, nodes, maxRounds, checkNodeCover = true)

  /** Internal variant for call sites where pairs ⊆ nodes holds BY
    * CONSTRUCTION (the node universe is literally built as
    * batch ∪ edge-endpoints, e.g. `incrementalDelta`'s representative
    * graph) — the orphan-endpoint probe would scan a relation it can prove
    * nothing about. Public callers keep the loud guard. */
  private[dedup] def connectedComponentsCovered(pairs: DataFrame, nodes: DataFrame,
      maxRounds: Int = 25)(implicit spark: SparkSession): DataFrame =
    connectedComponentsImpl(pairs, nodes, maxRounds, checkNodeCover = false)

  private def connectedComponentsImpl(pairs: DataFrame, nodes: DataFrame,
      maxRounds: Int, checkNodeCover: Boolean)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // freshLocalCheckpoint, NOT bare localCheckpoint: Spark rewrites the
    // origin plan's size-in-bytes estimate into every checkpoint node, and
    // an ITERATED checkpoint→join→checkpoint loop compounds the estimate
    // geometrically — by round ~10 (or when a caller like
    // incrementalClusters feeds one CC's output into the next) the driver
    // burns minutes in BigInteger stats math. Fresh default stats at every
    // iteration boundary keep estimation O(plan), forever.
    val fresh = org.apache.spark.sql.graft.SparkInternals.freshLocalCheckpoint _
    // ONE checkpointed relation carries the bidirectional edge set AND the
    // node universe as flagged self-loop rows (u, u, self=true): the
    // per-round neighbor-min then needs a single join + aggregation — the
    // min runs over neighbor labels and the node's own label together, and
    // the PREVIOUS label falls out of the same aggregation as the self
    // row's label (exactly one self row per group) — where the old round
    // ran inner-join + aggregate + left-join-back (one join node and one
    // labels exchange more per round, measured ~25 % of round cost at
    // sf0.1 on the q_ann_lsh_clusters graph).
    var edgesAll = fresh(
      pairs.select(col(pairs.columns(0)).as("u"), col(pairs.columns(1)).as("v"))
        .union(pairs.select(col(pairs.columns(1)).as("u"), col(pairs.columns(0)).as("v")))
        .distinct()
        .select(col("u"), col("v"), lit(false).as("self"))
        .unionByName(
          nodes.select(col(nodes.columns(0)).as("n")).distinct()
            .select(col("n").as("u"), col("n").as("v"), lit(true).as("self"))))
    // initial labels: every node labels itself. Checkpointed SEPARATELY
    // (a cheap narrow scan of the edgesAll blocks) so the per-round
    // releaseCheckpoint(labels) below can never free edgesAll's blocks.
    var labels = fresh(edgesAll.where(col("self"))
      .select(col("u").as("n"), col("u").as("lbl")))
    // SCALE-ADAPTIVE edge layout (guide §2): the per-round join
    // `edgesAll ⋈ labels ON v = n` re-exchanges the EDGE side every round
    // only when the labels side is too big to broadcast — exactly the
    // 100 TB regime (billions of node labels never broadcast). Only then
    // is it worth paying one extra edge exchange here to re-cluster the
    // checkpoint by `v` and DECLARE the layout
    // (freshLocalCheckpointClusteredBy — Spark's own checkpoint
    // partitioning preservation is lost under AQE), after which the loop
    // shuffles labels + join-output per round instead of edges + labels +
    // join-output. Below the threshold the labels broadcast and the
    // declared layout buys nothing, while its fixed partition count
    // defeats AQE's small-partition coalescing — measured 1.68× SLOWER at
    // sf0.1 (OPTIMIZATION_r07.md, same-window interleaved A/B), so the
    // decision is made from the MEASURED labels checkpoint size, not a
    // constant tuned for either regime. DedupJobsSpec re-runs the loop
    // with broadcast disabled so the clustered branch's declared layout
    // is the one actually joined on.
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val labelsBytes = labels.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bcThreshold < 0 || labelsBytes > bcThreshold) {
      val nShuffle = spark.sessionState.conf.numShufflePartitions
      val clustered = org.apache.spark.sql.graft.SparkInternals
        .freshLocalCheckpointClusteredBy(
          edgesAll.repartition(nShuffle, col("v")), key = "v")
      releaseCheckpoint(edgesAll)
      releaseCheckpoint(labels)
      edgesAll = clustered
      // self rows have u == v, so projecting from `v` keeps each row in
      // its hash(v) partition — physically clustered by `n`; declaring it
      // spares round 1's labels-side exchange too
      labels = org.apache.spark.sql.graft.SparkInternals.freshLocalCheckpointClusteredBy(
        edgesAll.where(col("self")).select(col("v").as("n"), col("v").as("lbl")), key = "n")
    }
    // precondition probe: edges (both directions) ⊆ nodes. One extra
    // left-anti join action before round 1 (the expected-empty case scans
    // the edge set once; limit-1 only short-circuits when orphans exist) —
    // deliberate: a silent one-way labeling is worse than one narrow join
    // over relations that are already checkpointed. Keyed on `v` (not `u`):
    // the edge set is bidirectional, so the u- and v-endpoint sets are
    // equal — and in the clustered (non-broadcast) branch both relations
    // are declared hash-clustered on this key, so the probe joins without
    // moving either side.
    if (checkNodeCover)
      require(edgesAll.where(!col("self"))
          .join(labels, col("v") === labels("n"), "left_anti").isEmpty,
        "connectedComponents: pairs reference ids missing from nodes — " +
          "the id universe must cover every edge endpoint")
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // 1. neighbor min INCLUDING self, one join + one aggregation: the
      //    self row contributes the node's own label (so `lbl` is the old
      //    `least(own, nbrMin)` in one min) and is the only self=true row
      //    of its group, so `old_lbl` is recovered from the same pass.
      // persisted: `stepped` feeds BOTH sides of the pointer-jump self-join
      // below — un-persisted, the edge join + aggregation ran twice per
      // round (the same repeated-subtree cost the index probes paid)
      val stepped = edgesAll.join(labels, col("v") === labels("n"))
        .groupBy(col("u"))
        .agg(min(col("lbl")).as("new_lbl"),
          min(when(col("self"), col("lbl"))).as("old_lbl"))
        .select(col("u").as("n"), col("old_lbl"), col("new_lbl").as("lbl"))
        .persist()
      // 2. pointer jump: follow each label to its own label (path halving).
      // The round's PREVIOUS label rides along and the convergence count is
      // OBSERVED during the checkpoint materialization itself (the
      // CollectMetrics node runs inside the localCheckpoint action;
      // verified to fire, ~ms latency) — zero extra jobs per round where a
      // separate filter-count job used to run.
      val obs = org.apache.spark.sql.Observation()
      val jumped = fresh(stepped.as("s")
        .join(stepped.select(col("n").as("ln"), col("lbl").as("llbl")).as("t"),
          col("s.lbl") === col("t.ln"), "left")
        .select(col("s.n").as("n"), col("s.old_lbl").as("old_lbl"),
          least(col("s.lbl"), coalesce(col("t.llbl"), col("s.lbl"))).as("lbl"))
        .observe(obs, coalesce(
          sum(when(col("lbl") =!= col("old_lbl"), 1L).otherwise(0L)),
          lit(0L)).as("changed")))
      stepped.unpersist()
      val changed = obs.get("changed").asInstanceOf[Long]
      // release the superseded round's checkpoint blocks NOW — a long-lived
      // session running many dedup jobs must not accumulate storage memory
      // waiting for driver GC (blocks are otherwise ContextCleaner-owned)
      releaseCheckpoint(labels)
      labels = jumped.select(col("n"), col("lbl"))
      converged = changed == 0
      round += 1
    }
    releaseCheckpoint(edgesAll)
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    labels.select(col("n").as("id"), col("lbl").as("cluster_id"))
  }

  /**
   * INCREMENTAL cluster maintenance — the arrival-time counterpart of
   * `connectedComponents`, completing the incremental dedup loop the
   * persisted indexes start (`LshIndex.probe` / `PhashIndex.probe` give the
   * new batch's pairs; this folds them into the standing clustering
   * WITHOUT re-running CC over the corpus):
   *
   *   1. PROJECT each new pair endpoint to its cluster representative —
   *      an old id maps to its current cluster_id (one broadcast-able
   *      join against the label table keyed by the pair endpoints), a
   *      batch id to itself.
   *   2. Run `connectedComponents` on the REPRESENTATIVE graph — nodes
   *      are the batch ids plus the touched old cluster ids, a relation
   *      bounded by O(|batch| + |touched clusters|), never the corpus.
   *   3. APPLY: members of touched clusters re-label via an equi-join on
   *      cluster_id against the (tiny) remap table; untouched rows pass
   *      through unchanged; batch ids take their rep's new label.
   *
   * Because `connectedComponents` labels a cluster with its MINIMUM member
   * id, the representative min IS the global min (min over old cluster
   * minima and batch ids), so the result is bit-identical to re-running CC
   * over the whole corpus — `incrementalClusters(cc(A), probePairs, B)
   * == cc(A ∪ B)` (spec'd on random graphs; q_d11 oracles it against the
   * batch-mode recursive-CTE closure).
   *
   * Scale shape: steps 1-2 touch O(batch + touched clusters) rows; step 3
   * is one join of the label table against a remap relation bounded by the
   * touched-cluster count (broadcast-able at any realistic dedup rate) —
   * the whole update is O(dirty), the same posture as the tile store's
   * dirty-partition commits.
   *
   * Input: labels (id, cluster_id) — a TOTAL labeling of the old corpus
   * (the `connectedComponents` contract); newPairs (a, b) — pairs touching
   * the batch (both batch-batch and batch-old, e.g. an index probe
   * result); newIds (id) — the batch's id universe (pairs ⊆ labels ∪
   * newIds ids, enforced by the inner CC's own guard). Output: updated
   * total labeling (id, cluster_id) over labels ∪ newIds.
   */
  def incrementalClusters(labels: DataFrame, newPairs: DataFrame, newIds: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val lbl = labels.select(col(labels.columns(0)).as("id"), col(labels.columns(1)).as("cluster_id"))
    val (remap, newRows) = incrementalDelta(labels, newPairs, newIds)
    // 3. apply. Old rows re-label only when their cluster rep moved;
    //    batch rows take their rep's label (their own id when untouched).
    val oldUpdated = lbl.join(remap, lbl("cluster_id") === remap("rep"), "left")
      .select(col("id"), coalesce(col("new_cluster"), col("cluster_id")).as("cluster_id"))
    oldUpdated.unionByName(newRows)
  }

  /** The DELTA form of `incrementalClusters` — steps 1-2 without the
    * corpus-sized step-3 apply: returns
    *   remap   (rep, new_cluster) — a TOTAL labeling of the representative
    *           graph (touched old cluster ids + batch ids; rows with
    *           rep == new_cluster are untouched reps / singleton batch ids)
    *   newRows (id, cluster_id)   — the batch's final labels
    * Both relations are bounded by O(batch + touched clusters) — this is
    * what lets `IndexService` commit labels O(dirty): only label-store
    * buckets containing a changed rep, its new cluster id, or a batch row
    * need rewriting, and the store applies remap INSIDE those buckets
    * (`incrementalClusters` composes the same delta with a full-relation
    * apply and stays the q_d11-oracled reference form). */
  def incrementalDelta(labels: DataFrame, newPairs: DataFrame, newIds: DataFrame)(
      implicit spark: SparkSession): (DataFrame, DataFrame) = {
    val lbl = labels.select(col(labels.columns(0)).as("id"), col(labels.columns(1)).as("cluster_id"))
    val batch = newIds.select(col(newIds.columns(0)).as("id")).distinct().persist()
    val pairs = newPairs.select(col(newPairs.columns(0)).as("a"), col(newPairs.columns(1)).as("b"))
    // 1. endpoint → representative (old: its cluster; batch: itself).
    //    Batch ids must NOT also appear in labels (probe-before-append
    //    discipline); an id in both would project ambiguously.
    //    BOTH endpoint columns union into ONE distinct key set so the
    //    (corpus-sized) label relation is joined ONCE, not once per side —
    //    at scale the labels scan is the expensive leg of this step.
    val reps = pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id")))
      .distinct()
      .join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("rep"))
      .persist()
    val projected = pairs
      .join(reps.toDF("a", "a_rep"), Seq("a"))
      .join(reps.toDF("b", "b_rep"), Seq("b"))
      .select(col("a_rep"), col("b_rep"))
      .where(col("a_rep") =!= col("b_rep"))
    // 2. CC over the representative graph. Node universe: batch ids +
    //    every rep the pairs touch (old cluster ids project to themselves).
    //    `reps`/`batch` are persisted above: the projected subtree feeds
    //    the CC edge union twice and the node universe twice — un-persisted
    //    the endpoint→rep join against the label table re-ran four times
    //    inside the CC setup materialization.
    val repNodes = batch.select(col("id"))
      .union(projected.select(col("a_rep").as("id")))
      .union(projected.select(col("b_rep").as("id")))
      .distinct()
    // repNodes ⊇ every projected endpoint BY CONSTRUCTION (built from the
    // very same relation) — the covered variant skips the orphan probe
    val remap = connectedComponentsCovered(projected, repNodes)
      .select(col("id").as("rep"), col("cluster_id").as("new_cluster"))
    val newRows = batch.join(remap, batch("id") === remap("rep"), "left")
      .select(col("id"), coalesce(col("new_cluster"), col("id")).as("cluster_id"))
    // remap is checkpoint-backed (eager) by now; newRows re-derives the
    // cheap batch distinct lazily — nothing stays in the cache registry
    reps.unpersist(); batch.unpersist()
    (remap, newRows)
  }

  /** Near-dup clusters over the documents table: exact inverted-index
    * Jaccard pairs (`jaccardJoin`) resolved to canonical cluster ids.
    * Docs below the shingle length (excluded from pairing by contract)
    * still appear as singletons — the output is a total keep-list. */
  def dedupClusters(docs: DataFrame, threshold: Double, n: Int = 3,
                    maxDf: Int = 100000)(
      implicit spark: SparkSession): DataFrame =
    connectedComponents(
      jaccardJoin(docs, threshold, n, maxDf).select("a", "b"),
      docs.select("doc_id"))

  /** The DEDUPLICATED corpus — the terminal step of the whole pipeline:
    * keep exactly the canonical document of every near-dup cluster (the
    * member whose id IS the cluster id, i.e. the minimum). `clusters` is
    * `connectedComponents`/`dedupClusters` output (id, cluster_id); the
    * join is a broadcast-able keep-set at any realistic dedup rate, and
    * singletons keep themselves by construction so the result is exactly
    * one row per cluster. */
  def applyKeepList(docs: DataFrame, clusters: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.where(col("id") === col("cluster_id")).select(col("id").as(idCol)),
      idCol)

  /** IMAGE-side canonical resolution — the keep-list step a training-corpus
    * pipeline runs after near-dup pair detection: exact hamming pairs
    * (`phashNearDups`, multi-index pigeonhole join) resolved to clusters;
    * cluster_id = min image id of the component, singletons keep
    * themselves. Output (id, cluster_id); the keep-list is the distinct
    * cluster_id set, the drop-list everything with id != cluster_id. */
  def phashClusters(imgs: DataFrame, maxDist: Int = 3, maxBucket: Int = 4096)(
      implicit spark: SparkSession): DataFrame =
    connectedComponents(
      phashNearDups(imgs, maxDist, maxBucket).select("a", "b"),
      imgs.select("id"))
}
