package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED, INCREMENTALLY-MAINTAINED MinHash-LSH index — the
 * index-once / probe-many posture for text dedup, mirroring the IVF
 * treatment of ANN (`Ann.buildIvfIndex` / `ivfTopKIndexed`) and the
 * reference's incremental-maintenance philosophy (heatmap-tiles
 * `Worker.cs:50-61` maintains its tile store incrementally per batch; this
 * is the same posture applied to the dedup index). At 100 TB the banded
 * index is exactly the thing you materialize once and append to as new
 * documents arrive — recomputing MinHash over the whole corpus per batch
 * (what `minhashNearDups` does) is the non-starter.
 *
 * Layout under `dir`:
 *   bands/    (doc_id, band, bucket) hive-partitioned by `bpb` — the
 *             (band, bucket-prefix) directory key, so a probe's scan is
 *             PRUNED to the directories its batch's buckets can live in
 *             (plan-asserted in LshIndexSpec, like AnnSpec's
 *             PartitionFilters assert).
 *   shingles/ (doc_id, sh: sorted shingle-hash array) — the refine-side
 *             payload, so the exact-Jaccard verify never re-reads corpus
 *             text.
 *
 * Probe contract (LshIndexSpec + the q_d8 oracle): probe BEFORE appending
 * the batch — `probe(dir, batch)` returns exactly the batch-mode
 * `minhashNearDups(indexed ∪ batch)` pairs RESTRICTED to pairs touching
 * the batch (both batch-batch and batch-index pairs), including identical
 * BucketCap semantics: bucket sizes are counted over index ∪ batch
 * membership, which equals the batch-mode count because a bucket's rows
 * all share one `bpb` partition — the pruned scan reads every index row of
 * every bucket the batch can touch.
 */
object LshIndex {

  /** Bucket-prefix fan-out per band. bpb = band * PrefixBuckets + prefix:
    * one partition column encodes both levels, so `bpb IN (...)` prunes
    * directories in a single filter. 8 bands × 16 prefixes = 128 dirs. */
  val PrefixBuckets = 16

  private def paramsFile(dir: String) = java.nio.file.Paths.get(dir, "PARAMS")

  /** Build-parameter guard — the PhashIndex MAXDIST pattern applied to the
    * LSH layout: a probe/append called with different `numHashes`/`bands`
    * than the build computes DISJOINT bucket keys and silently returns
    * missing pairs (recall collapses with no error). `build` writes the
    * parameters LAST, so a crashed build reads as "no index", never as a
    * usable one; probe/append fail loudly on any mismatch. */
  private def checkParams(dir: String, numHashes: Int, bands: Int): Unit = {
    require(java.nio.file.Files.exists(paramsFile(dir)),
      s"no complete LSH index at $dir (PARAMS missing — build writes it last, so a " +
        "crashed build reads as absent; rebuild the index, or delete a service " +
        "state dir holding it and re-run)")
    val stored = new String(
      java.nio.file.Files.readAllBytes(paramsFile(dir)), "UTF-8").trim.split("\\s+")
    require(stored.length == 3 &&
        stored(0).toInt == numHashes && stored(1).toInt == bands &&
        stored(2).toInt == PrefixBuckets,
      s"index at $dir was built with (numHashes, bands, prefixBuckets) = " +
        s"(${stored.mkString(", ")}); probe/append at ($numHashes, $bands, " +
        s"$PrefixBuckets) would compute disjoint bucket keys and silently " +
        "miss pairs — rebuild or match the parameters")
  }

  def bpbCol(band: org.apache.spark.sql.Column, bucket: org.apache.spark.sql.Column) =
    (band * PrefixBuckets + pmod(bucket, lit(PrefixBuckets.toLong)).cast("int")).as("bpb")

  private type Prepared = org.apache.spark.sql.Dataset[(Long, Array[Long], Array[Long])]

  /** (doc_id, band, bucket, bpb) band rows from a prepared
    * (id, shingles, signature) dataset. Takes the PREPARED form, not docs:
    * shingling + the numHashes-pass minhash is the dominant per-document
    * cost, and every caller also needs the shingle side — one persisted
    * prep pass feeds both (re-deriving it per table doubled probe cost,
    * measured 5.8 → 3.0 s at sf0.1). */
  private def bandRowsOf(prepared: Prepared, bands: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    prepared
      .flatMap { case (id, _, sig) =>
        Dedup.lshBands(sig, bands).zipWithIndex.map { case (h, b) => (id, b, h) }
      }
      .toDF("doc_id", "band", "bucket")
      .withColumn("bpb", bpbCol(col("band"), col("bucket")))
  }

  private def shingleRowsOf(prepared: Prepared)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    prepared.map { case (id, sh, _) => (id, sh) }.toDF("doc_id", "sh")
  }

  /** The bpb directory footprint of a batch — the same computation
    * `probe` prunes its index scan with (exposed for the plan-pruning
    * spec and for capacity diagnostics; bounded by bands × PrefixBuckets). */
  def probeTouchedBpbs(batch: DataFrame, numHashes: Int = 64, bands: Int = 16)(
      implicit spark: SparkSession): Seq[Int] = {
    import spark.implicits._
    bandRowsOf(Dedup.shingleSigs(batch, numHashes), bands)
      .select("bpb").distinct().as[Int].collect().toSeq
  }

  /** Write both index tables from ONE persisted prep pass. */
  private def write(docs: DataFrame, dir: String, mode: String,
                    numHashes: Int, bands: Int)(implicit spark: SparkSession): Unit = {
    val prepared = Dedup.shingleSigs(docs, numHashes).persist()
    bandRowsOf(prepared, bands)
      .repartition(col("bpb"))
      .write.mode(mode).partitionBy("bpb").parquet(s"$dir/bands")
    shingleRowsOf(prepared)
      .write.mode(mode).parquet(s"$dir/shingles")
    prepared.unpersist()
  }

  /** Build the index over `docs` (overwrites `dir`). Writes PARAMS last —
    * the completion marker probe/append verify against. */
  def build(docs: DataFrame, dir: String, numHashes: Int = 64, bands: Int = 16)(
      implicit spark: SparkSession): Unit = {
    java.nio.file.Files.deleteIfExists(paramsFile(dir))
    write(docs, dir, "overwrite", numHashes, bands)
    java.nio.file.Files.write(paramsFile(dir),
      s"$numHashes $bands $PrefixBuckets".getBytes("UTF-8"))
  }

  /** Append a new batch to an existing index. The caller is responsible
    * for having probed first if pairs against this batch are wanted (an
    * appended document is indistinguishable from a built one afterwards —
    * probing a batch already appended would double-count its band rows). */
  def append(docs: DataFrame, dir: String, numHashes: Int = 64, bands: Int = 16)(
      implicit spark: SparkSession): Unit = {
    checkParams(dir, numHashes, bands)
    write(docs, dir, "append", numHashes, bands)
  }

  /** Compact the band table: rewrite every bpb partition to one file.
    * `append` adds one parquet file per touched directory per batch, so
    * after B batches a probe's pruned scan opens ~B files per directory —
    * the measured ~20 % probe drift over 9 appends (BENCH/BASELINE.md).
    * Run periodically, like any LSM-ish maintained index (crash safety:
    * see `IndexFiles.compactDir`). */
  def compact(dir: String)(implicit spark: SparkSession): Unit = {
    IndexFiles.compactDir(dir, "bands", partitioned = true)
    IndexFiles.compactDir(dir, "shingles", partitioned = false)
  }

  /** Near-dup pairs of `batch` against the index AND within the batch —
    * `minhashNearDups(indexed ∪ batch)` restricted to pairs touching the
    * batch, without recomputing anything over the indexed corpus: the
    * index side contributes only a DIRECTORY-PRUNED scan of the bucket
    * partitions the batch can touch plus a semi-joined shingle lookup for
    * the verify step. */
  def probe(dir: String, batch: DataFrame, threshold: Double = 0.7,
            numHashes: Int = 64, bands: Int = 16, maxBucket: Int = 256,
            capObs: Option[org.apache.spark.sql.Observation] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    IndexFiles.recover(dir, "bands"); IndexFiles.recover(dir, "shingles")
    checkParams(dir, numHashes, bands)
    // ONE prep pass over the batch (persisted): feeds the band rows, the
    // bpb footprint AND the refine-side shingle arrays
    val prepared = Dedup.shingleSigs(batch, numHashes).persist()
    val newBands = bandRowsOf(prepared, bands).withColumn("is_new", lit(true))
      .persist()
    // the batch's bpb footprint — bounded by bands × PrefixBuckets (128),
    // a legitimate driver-side collect regardless of batch size
    val touched = newBands.select("bpb").distinct().as[Int].collect().toSeq
    // partition-pruned index scan: only directories the batch can pair in
    val idxBands = spark.read.parquet(s"$dir/bands")
      .where(col("bpb").isin(touched.map(Integer.valueOf): _*))
      .select(col("doc_id"), col("band"), col("bucket"), lit(false).as("is_new"))
    val combined = idxBands.unionByName(newBands.select("doc_id", "band", "bucket", "is_new"))
    // restrict to buckets the batch ACTUALLY members — the bpb directory
    // prune is 128-way coarse, so without this the self-join below would
    // still run over every index bucket in every touched directory (cost
    // growing with index size / 128 per dir, not with the batch). The
    // semi-join keeps every row of each touched bucket, so downstream cap
    // decisions see full batch-mode membership; untouched buckets can't
    // produce batch pairs and (deliberately) no longer count in capObs.
    // broadcast: the batch's distinct key set is ≤ batch × bands rows and a
    // probe batch is small by definition (the incremental arrival) — the
    // semi-join must not shuffle the index side it exists to shrink
    val newKeys = broadcast(newBands.select("band", "bucket").distinct())
    val relevant = combined.join(newKeys, Seq("band", "bucket"), "left_semi")
    // cap over index ∪ batch membership == batch-mode cap (see scaladoc).
    // persisted: `capped` feeds BOTH sides of the candidate self-join, and
    // its subtree (pruned index scan + semi-join + the cap's sizes join) is
    // the expensive part of the probe — un-persisted, that subtree re-ran
    // up to 4× per probe (once per join side × once per cap use; measured
    // ~2× the steady probe cost at sf0.1 with a 500-doc batch)
    val capped = graft.spark.BucketCap.cap(relevant, Seq("band", "bucket"), maxBucket, capObs)
      .persist()
    // persisted: the candidate set feeds the final refine join AND both
    // candIds scans — without it each action re-runs the capped self-join
    // (measured 3× the steady probe cost at sf0.1)
    val cand = capped.as("l").join(capped.as("r"),
        $"l.band" === $"r.band" && $"l.bucket" === $"r.bucket" && $"l.doc_id" < $"r.doc_id")
      .where($"l.is_new" || $"r.is_new")
      .select($"l.doc_id".as("a"), $"r.doc_id".as("b")).distinct()
      .persist()
    // refine shingles: index payload for old ids (semi-join), fresh for new
    val candIds = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val idxSh = spark.read.parquet(s"$dir/shingles")
      .join(candIds, "doc_id")
    // persisted: refineJaccard joins `sh` TWICE (a-side and b-side) — the
    // shingle-lookup subtree (payload scan + candIds semi) must not run
    // once per side
    val sh = idxSh.unionByName(shingleRowsOf(prepared))
      .as[(Long, Array[Long])].toDF("doc_id", "sh").persist()
    val out = Dedup.refineJaccard(cand, sh, threshold)
    sh.unpersist()
    capped.unpersist()
    cand.unpersist()
    newBands.unpersist()
    prepared.unpersist()
    out
  }
}
