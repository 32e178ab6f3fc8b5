package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The resumable dedup service vs batch mode: at every committed point the
 * standing labels must equal batch-mode clustering of everything below
 * the cursor, across incremental arrival, restarts, and injected
 * crashes. Uncapped so the identity is unconditional (cap semantics have
 * their own oracles).
 */
class DedupServiceSpec extends AnyFunSuite with graft.TempDirs {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(4, "dedup-service-spec")

  private val sf = "/root/testdata/sf0.001"
  private val noCap = Int.MaxValue

  // a 60-doc universe keeps the multi-batch runs fast; ids stay dense 0..59
  private def docs = graft.queries.Tables.documents(spark, sf)
    .where(col("doc_id") < 60).select("doc_id", "text")

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col(df.columns(0)), col(df.columns(1))).as[(Long, Long)].collect().toMap
  }

  private def batchModeLabels(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    labelMap(Dedup.connectedComponents(
      Dedup.minhashNearDups(d, threshold = 0.8, bands = 8, maxBucket = noCap).select("a", "b"),
      d.select("doc_id")))

  private def tmpState(): String =
    java.nio.file.Files.createTempDirectory("dedup-service").toString

  test("multi-batch run == batch mode; re-run is a committed no-op") {
    val state = tmpState()
    try {
      val n = docs.count()
      val head = DedupService.run(docs, state, batchSize = 20,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(head.cursor === docs.agg(max("doc_id")).head().getLong(0) + 1)
      assert(head.version === (n + 19) / 20, "one version per non-empty batch")
      val got = labelMap(DedupService.labels(state))
      assert(got === batchModeLabels(docs))
      // resume no-op: identical head, identical labels
      val again = DedupService.run(docs, state, batchSize = 20,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(again === head)
      assert(labelMap(DedupService.labels(state)) === got)
      // retention: only the last 2 label versions live
      val live = new java.io.File(s"$state/labels").listFiles().map(_.getName).sorted
      assert(live.toSeq === Seq(s"v${head.version - 1}", s"v${head.version}"))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("compaction crash between its two renames rolls back on resume (no first-build relapse)") {
    val state = tmpState()
    try {
      val half = docs.where(col("doc_id") < 30)
      DedupService.run(half, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(half))
      // simulate a compaction dying between move(live -> .old) and
      // move(staged -> live) inside the uncommitted next version: its live
      // table gone, backup present, HEAD unmoved — a resume that read that
      // version would relapse into a batch-only table, wiping the standing
      // labels, unless it deletes the version first
      val idx = ServiceStates.nextIndex(state)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(idx, "bands"),
        java.nio.file.Paths.get(idx, "bands.old"))
      DedupService.run(docs, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      // every standing id keeps its batch-mode label — nothing was wiped
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("incremental arrival: draining the tail equals one-shot batch mode") {
    val state = tmpState()
    try {
      val half = docs.where(col("doc_id") < 25)
      val h1 = DedupService.run(half, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(half))
      val h2 = DedupService.run(docs, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(h2.version > h1.version)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash between append and commit: recovery excises the batch, resume converges") {
    val state = tmpState()
    try {
      val half = docs.where(col("doc_id") < 25)
      DedupService.run(half, state, batchSize = 25,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      val head = DedupService.readHead(state)
      // simulate a crash mid-batch: the next batch ALREADY appended to
      // the next index version, an orphan labels version on disk, but HEAD
      // never moved
      val tail = docs.where(col("doc_id") >= 25 && col("doc_id") < 40)
      LshIndex.append(tail, ServiceStates.nextIndex(state), bands = 8)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(state, "labels", s"v${head.version + 1}"))
      // resume must delete the half-applied version and still converge
      DedupService.run(docs, state, batchSize = 25,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("crash during the very first build: state resets, run completes") {
    val state = tmpState()
    try {
      val some = docs.where(col("doc_id") < 30)
      // partial first build on disk, HEAD never written
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state, "labels", "v1"))
      LshIndex.build(some, s"$state/index/v1", bands = 8)
      DedupService.run(docs, state, batchSize = 50,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("far-sparse ids (snowflake-style): the cursor jumps the hole in one step") {
    val state = tmpState()
    try {
      // ids 0..9 then a 10^9 gap — per-empty-range iteration would hang
      val near = docs.where(col("doc_id") < 10)
      val far = near.union(near.withColumn("doc_id", col("doc_id") + 1000000000L)
        .select("doc_id", "text"))
      val head = DedupService.run(far, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(head.version === 2, "two non-empty batches across the gap")
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(far))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("compactEvery: index compaction between batches changes nothing but the file count") {
    val state = tmpState()
    try {
      DedupService.run(docs, state, batchSize = 20,
        threshold = 0.8, bands = 8, maxBucket = noCap, compactEvery = 1)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs))
      val bandsRoot = new java.io.File(s"${IndexService.indexDir(state)}/bands")
      val dirs = bandsRoot.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bpb="))
      val files = dirs.map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(files === dirs.length, "exactly one file per live partition after compaction")
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("labels commit is O(dirty): clean buckets hardlink-carry, dirty writes track touched clusters") {
    import spark.implicits._
    val state = tmpState()
    try {
      // 64 unique docs (no near-dups across batches except one planted
      // pair), ids dense 0..63; labelRangeWidth=16 + batchSize=16 align
      // each batch with exactly ONE label bucket
      val uniq = (0L until 64L).map(i =>
        (i, s"doc $i " + Seq.tabulate(40)(j => s"w${i * 131 + j * 17}").mkString(" ")))
      // plant one cross-batch near-dup: doc 50 ~ doc 3 (merges bucket 3 & 0)
      val docs64 = uniq.map { case (i, t) => if (i == 50) (i, uniq(3)._2 + " tail") else (i, t) }
        .toDF("doc_id", "text")
      DedupService.run(docs64, state, batchSize = 16, threshold = 0.8,
        bands = 8, maxBucket = noCap, keepLabelVersions = 10, labelRangeWidth = 16)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(docs64))
      val stats = IndexService.commitStats(state).map(s =>
        (s.version, s.cursor, s.writtenDirs, s.carriedDirs, s.writtenRows))
      assert(stats.map(_._1) === Seq(1L, 2L, 3L, 4L))
      // batch 2 (ids 16..31, no merges): exactly its own bucket written,
      // bucket 0 carried forward as hardlinks — NOT a corpus rewrite
      val (_, _, w2, c2, r2) = stats(1)
      assert(w2 === 1, s"no-merge batch must write exactly 1 bucket, wrote $w2")
      assert(c2 === 1, s"clean bucket not carried ($c2)")
      assert(r2 === 16L, s"no-merge batch must write only its own rows, wrote $r2")
      // batch 4 (ids 48..63, contains the planted merge with cluster 3):
      // writes its own bucket + the touched cluster's bucket, carries the rest
      val (_, _, w4, c4, r4) = stats(3)
      assert(w4 === 2, s"merge batch must write batch + touched bucket, wrote $w4")
      assert(c4 === 2, s"clean buckets not carried ($c4)")
      assert(r4 === 32L, s"merge batch rewrote $r4 rows, expected 2 buckets = 32")
      // carried files are HARDLINKS of the previous version's files
      val v4 = java.nio.file.Paths.get(state, "labels", "v4", "lb=1")
      val carriedFile = v4.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val nlink = java.nio.file.Files.getAttribute(carriedFile.toPath, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(nlink >= 2, s"carried file is a copy (nlink=$nlink), not a hardlink")
      // the pruned rewrite must not have changed the relation: labels at
      // head equal batch mode (asserted above) AND every id labeled once
      assert(DedupService.labels(state).groupBy("id").count()
        .where(col("count") > 1).isEmpty, "duplicate label rows")
      // --- the id-keyed projection's O(dirty) contracts (fold-read side) ---
      val v2 = IndexService.commitStats(state)
      // batch 2 (no merges, probe returns no pairs): the fold READ zero
      // label rows (endpoint set empty), wrote exactly the batch's own ib
      // bucket and carried the clean one
      assert(v2(1).foldReadRows === 0L,
        s"pair-free batch read ${v2(1).foldReadRows} label rows — fold read not endpoint-pruned")
      assert(v2(1).ibWrittenDirs === 1 && v2(1).ibCarriedDirs === 1,
        s"no-merge batch by-id commit not dirty-sized: ${v2(1)}")
      // batch 4 (planted pair 50~3): endpoints {3, 50} → the fold reads ONLY
      // ib bucket 0 (16 rows), never the 48-row standing corpus
      assert(v2(3).foldReadRows === 16L,
        s"merge batch read ${v2(3).foldReadRows} label rows, expected the one endpoint bucket (16)")
      // the merge relabels no old row (min(3,50)=3 keeps cluster 3), so the
      // by-id rewrite is the batch bucket only; the other three carry
      assert(v2(3).ibWrittenDirs === 1 && v2(3).ibCarriedDirs === 3,
        s"merge batch by-id commit not dirty-sized: ${v2(3)}")
      // by-id projection ≡ the lb store re-keyed, and its carried files are
      // hardlinks like the lb store's
      val head64 = DedupService.readHead(state)
      val byId = spark.read.parquet(s"$state/labels_by_id/v${head64.version}")
        .select("id", "cluster_id")
      assert(labelMap(byId) === labelMap(DedupService.labels(state)),
        "labels_by_id diverged from the lb store")
      val ibCarriedFile = java.nio.file.Paths.get(
          s"$state/labels_by_id/v${head64.version}", "ib=0")
        .toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val ibNlink = java.nio.file.Files.getAttribute(ibCarriedFile.toPath, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(ibNlink >= 2, s"carried by-id file is a copy (nlink=$ibNlink), not a hardlink")
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("the dirty-bucket label read is directory-pruned (isin on the lb partition column)") {
    import spark.implicits._
    val state = tmpState()
    try {
      // a labels-shaped table written exactly like IndexService writes it
      val rows = (0L until 200L).map(i => (i, i))
      rows.toDF("id", "cluster_id")
        .withColumn("lb", (col("cluster_id") / lit(16L)).cast("long"))
        .repartition(col("lb"))
        .write.partitionBy("lb").parquet(s"$state/v1")
      // the same filter shape the dirty rewrite uses (Long literals against
      // the inferred partition column — coercion must not defeat pruning)
      val dirty = Seq(1L, 3L)
      val scan = spark.read.parquet(s"$state/v1")
        .where(col("lb").isin(dirty.map(java.lang.Long.valueOf): _*))
      assert(scan.count() === 32L)
      val scanNode = scan.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scanNode.partitionFilters.nonEmpty, "lb filter did not land as a partition filter")
      assert(scanNode.selectedPartitions.partitionCount === 2,
        s"read ${scanNode.selectedPartitions.partitionCount} of 13 partitions — not pruned to the dirty set")
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("a state without labels_by_id at HEAD is refused and left untouched") {
    // two older on-disk layouts, each with the relation it lacks at HEAD
    val legacyStates: Seq[(String => Unit, String)] = Seq(
      ({ state: String =>
        val half = docs.where(col("doc_id") < 30)
        // built by hand: a COMMITTED index without its PARAMS marker, a
        // FLAT (un-bucketed) labels version, no id-keyed projection, and
        // HEAD pointing at them
        LshIndex.build(half, s"$state/index", bands = 8)
        java.nio.file.Files.delete(java.nio.file.Paths.get(state, "index", "PARAMS"))
        val legacy = Dedup.connectedComponents(
          Dedup.minhashNearDups(half, threshold = 0.8, bands = 8, maxBucket = noCap)
            .select("a", "b"),
          half.select("doc_id"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state, "labels"))
        legacy.coalesce(1).write.parquet(s"$state/labels/v1")
        graft.io.AtomicWrite.write(java.nio.file.Paths.get(state, "HEAD"), "1 30")
      }, "labels_by_id/v1"),
      ({ state: String =>
        // both label projections at HEAD, but the index unversioned in
        // index/bands + index/shingles (and, like the first, without PARAMS)
        DedupService.run(docs.where(col("doc_id") < 30), state, batchSize = 30,
          threshold = 0.8, bands = 8, maxBucket = noCap, labelRangeWidth = 16)
        ServiceStates.unversionIndex(state)
        java.nio.file.Files.delete(java.nio.file.Paths.get(state, "index", "PARAMS"))
      }, "index/v1"))
    legacyStates.foreach { case (plant, missing) =>
      val state = tempDir("dedup-service-legacy")
      plant(state)
      val before = ServiceStates.tree(state)
      val e = intercept[IllegalStateException] {
        DedupService.run(docs, state, batchSize = 30, threshold = 0.8,
          bands = 8, maxBucket = noCap, labelRangeWidth = 16)
      }
      assert(e.getMessage.contains(state) && e.getMessage.contains(missing),
        s"refusal does not name the state and the missing $missing: ${e.getMessage}")
      assert(ServiceStates.tree(state) === before, "the refused state was modified")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(state, "index", "PARAMS")))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(state, "INFLIGHT")))
    }
  }

  test("commitStats drops a truncated commits.jsonl line instead of misparsing it") {
    val state = tmpState()
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state))
      // one whole record + one crash-truncated remnant (append is not atomic)
      java.nio.file.Files.write(java.nio.file.Paths.get(state, "commits.jsonl"),
        ("""{"version": 1, "cursor": 16, "written_dirs": 1, "carried_dirs": 0, "written_rows": 16}""" +
          "\n" + """{"version": 2, "cursor": 32, "written_d""").getBytes("UTF-8"))
      val stats = IndexService.commitStats(state)
      assert(stats.map(s => (s.version, s.cursor, s.writtenDirs, s.carriedDirs,
        s.writtenRows)) === Seq((1L, 16L, 1, 0, 16L)))
      // a record without the by-id projection's fields reads them as -1
      assert(stats.map(s => (s.ibWrittenDirs, s.ibCarriedDirs, s.foldReadRows)) ===
        Seq((-1, -1, -1L)))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("empty id ranges advance the cursor without a version bump") {
    val state = tmpState()
    try {
      // ids 0..49 with a hole: only ids >= 30 in the second half
      val sparse = docs.where(col("doc_id") < 10 || col("doc_id") >= 30)
      DedupService.run(sparse, state, batchSize = 10,
        threshold = 0.8, bands = 8, maxBucket = noCap)
      assert(labelMap(DedupService.labels(state)) === batchModeLabels(sparse))
      val head = DedupService.readHead(state)
      assert(head.version === 4, "4 non-empty batches -> 4 versions, empty ranges mint none")
      assert(head.cursor === sparse.agg(max("doc_id")).head().getLong(0) + 1)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }
}
