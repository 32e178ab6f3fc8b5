package graft.dedup

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{CommitLog, TileStore}

/**
 * A near-dup index family pluggable into the resumable service loop: one
 * persisted, incrementally-appendable index (LshIndex / PhashIndex shape)
 * plus its pair operators. The service machinery (versioned index and
 * label dirs under one HEAD commit, cursor batching, bucketed label
 * store) is modality-agnostic; everything hash-family-specific lives
 * behind this trait. Every `idxDir` it is handed is an uncommitted
 * `index/v<N>`. Pairs frames must expose columns (a, b).
 */
trait ClusterModality {
  /** id column of the input rows (doc_id / id / vec_id). */
  def idCol: String
  def build(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit
  /** Batch-internal pairs for the FIRST batch (no index to probe yet). */
  def firstPairs(batch: DataFrame)(implicit s: SparkSession): DataFrame
  /** Pairs of `batch` vs the index AND within the batch (probe BEFORE
    * append — the shared contract of all the persisted indexes). */
  def probe(idxDir: String, batch: DataFrame)(implicit s: SparkSession): DataFrame
  def append(batch: DataFrame, idxDir: String)(implicit s: SparkSession): Unit
  def compact(idxDir: String)(implicit s: SparkSession): Unit
}

/**
 * RESUMABLE incremental near-dup service, generic over the index modality
 * (text MinHash-LSH, image pHash blocks, …) — the versioned commit
 * protocol `DedupService` proved out for text, extracted so every
 * persisted index runs the same validated loop:
 *
 *   probe the persisted index (pairs vs indexed corpus + in-batch)
 *   → append the batch to the index
 *   → fold the pairs into the standing clustering (`incrementalDelta`)
 *   → commit index + labels + cursor ATOMICALLY
 *
 * State layout under `stateDir`:
 *   index/v<N>/<tables>           the modality's persisted index, one
 *                                 immutable dir per version
 *   labels/v<N>/lb=<B>/…          immutable labels versions, RANGE-BUCKETED
 *                                 by lb = cluster_id / labelRangeWidth
 *   labels_by_id/v<N>/ib=<B>/…    the same relation keyed by id,
 *                                 ib = id / labelRangeWidth
 *   HEAD                          text "version cursor" — THE commit point
 *   commits.jsonl                 per-commit write metrics (metadata only)
 *
 * This is the only layout `run` accepts. Every commit writes all three
 * relations' v<N> before HEAD moves to N, so a state whose HEAD > 0 lacks
 * `labels_by_id/v<HEAD>` or `index/v<HEAD>` was written by an older
 * layout: `run` refuses it before touching any file (delete the state dir
 * and re-run to rebuild it from the source). Nothing is migrated in place.
 *
 * O(dirty) LABEL COMMITS — the labels table is hive-partitioned by the
 * RANGE bucket of cluster_id. Because cluster ids are member MINIMA and the
 * arrival contract assigns ids monotonically, a batch's self-labeled rows
 * fall into O(batchSize / width) CONTIGUOUS buckets, rows merging into old
 * clusters land in the touched clusters' buckets, and a changed cluster
 * relabels rows that all live in exactly two buckets (lb(old rep) and
 * lb(new cluster id) — new ids are minima, so moves are localized). Each
 * commit therefore rewrites ONLY the buckets containing a batch row, a
 * changed rep, or its new cluster id — bounded by O(batch + touched
 * clusters) buckets — and carries every clean bucket forward as HARDLINKS
 * (the tile store's dirty-partition writer, `TileStore.writePartial`,
 * applied to the label relation). The closure argument making the pruned
 * rewrite exact: a row outside the dirty buckets has lb(cluster_id) not
 * dirty, hence its cluster is not in the remap, hence its label cannot
 * change; a row inside them can only move to lb(new_cluster), which is
 * dirty by construction.
 *
 * Crash safety is the tile store's rule (see `drain`): versions are
 * immutable, moving HEAD is the commit, and nothing above HEAD exists —
 * a crashed batch leaves only `v<HEAD+1>` dirs, which the next run deletes
 * before it does anything else (hardlinked files delete like any other —
 * links are per-version).
 *
 * O(dirty) FOLD READS — the fold's endpoint→representative lookup reads
 * the SECOND projection of the same relation, `labels_by_id/v<N>/ib=<B>`
 * (the id-keyed dual of the cluster-keyed lb store), partition-pruned:
 * an endpoint's label row lives exactly in ib(endpoint), so the fold reads
 * only the endpoint set's ib buckets — O(batch pair endpoints) buckets,
 * never the corpus. The projection commits with the same dirty-only +
 * hardlink-carry scheme: a by-id row changes only when its row RELABELS
 * (it is a member of a changed cluster — all such rows are found inside
 * the lb store's dirty buckets, and their ids give the dirty ib set) or
 * when it is a batch row (contiguous ids → O(1) buckets); every clean ib
 * bucket hardlink-carries. Closure argument for exactness: a row outside
 * the dirty ib buckets has an id no relabeled-or-new row has, hence its
 * cluster is not in the remap, hence its (id, cluster_id) is unchanged —
 * carrying it is the identity. The write cost is ~2× the (already
 * dirty-sized) lb commit, the price of never scanning the corpus-sized
 * labels relation per batch; per-commit read/write metrics land in
 * commits.jsonl (fold_read_rows, ib_written_dirs, ib_carried_dirs).
 */
object IndexService {

  final case class Head(version: Long, cursor: Long)

  /** Ids per label bucket. The default gives ~65k rows (~1 MB parquet) per
    * bucket on dense id spaces — small enough that a touched cluster's
    * rewrite is cheap, large enough that a billion-row corpus is ~15k
    * directories (the tile store's partition-count regime). */
  val DefaultLabelRangeWidth = 1L << 16

  private def headFile(stateDir: String) = Paths.get(stateDir, "HEAD")
  private def commitsFile(stateDir: String) = Paths.get(stateDir, "commits.jsonl")
  private def versionDir(stateDir: String, relation: String, v: Long) =
    Paths.get(stateDir, relation, s"v$v")
  private def labelsDir(stateDir: String, v: Long) = versionDir(stateDir, "labels", v)
  private def labelsByIdDir(stateDir: String, v: Long) = versionDir(stateDir, "labels_by_id", v)

  /** The committed index, `index/v<HEAD>` (absent before the first commit). */
  private[graft] def indexDir(stateDir: String): String =
    versionDir(stateDir, "index", readHead(stateDir).version).toString

  def readHead(stateDir: String): Head = {
    val f = headFile(stateDir)
    if (!Files.exists(f)) Head(0L, 0L)
    else {
      val parts = new String(Files.readAllBytes(f), "UTF-8").trim.split("\\s+")
      Head(parts(0).toLong, parts(1).toLong)
    }
  }

  private def writeAtomic(path: Path, content: String): Unit =
    graft.io.AtomicWrite.write(path, content)

  private def lbOf(width: Long)(c: Column): Column = (c / lit(width)).cast("long")

  /** Current committed labels (id, cluster_id); empty-schema frame before
    * the first commit. The lb partition column is dropped — it is physical
    * layout, not part of the relation. */
  def labels(stateDir: String)(implicit spark: SparkSession): DataFrame = {
    val h = readHead(stateDir)
    if (h.version == 0L) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    } else spark.read.parquet(labelsDir(stateDir, h.version).toString)
      .select("id", "cluster_id")
  }

  /** Refuse, before any file changes, a state this layout cannot read:
    * every commit writes each of `relations`' v<N> before HEAD moves to N,
    * so a HEAD without one was written by an older layout. */
  private[graft] def requireLayout(stateDir: String, relations: String*): Unit = {
    val v = readHead(stateDir).version
    val missing = if (v == 0L) Nil
      else relations.map(r => s"$r/v$v").filterNot(r => Files.exists(Paths.get(stateDir, r)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"service state $stateDir is at v$v but has no ${missing.mkString(" and no ")}: " +
          "it was written by an older layout. " +
          "Delete the state dir and re-run to rebuild it from the source.")
  }

  /** Retention: delete EVERY version dir at or below `floor`, not just the
    * newest one, so a crash between a commit and its sweep strands nothing. */
  private[graft] def dropVersionsUpTo(stateDir: String, floor: Long): Unit =
    CommitLog.versionDirs(Paths.get(stateDir)).collect {
      case (d, v) if v <= floor => CommitLog.deleteVersion(d)
    }

  /** `to` as hardlinks of every file of `from` (`TileStore.linkDir`), minus
    * the job markers a Spark append re-creates IN PLACE: truncating a
    * linked `_SUCCESS` or its `.crc` would rewrite `from`'s inode too, so
    * `to` drops those links and the append writes fresh files. */
  private[graft] def carryIndex(from: Path, to: Path): Unit = {
    TileStore.linkDir(from, to)
    val s = Files.walk(to)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList
        .filter(p => Set("_SUCCESS", "._SUCCESS.crc")(p.getFileName.toString))
        .foreach(Files.delete)
    } finally s.close()
  }

  /** The id-range cursor drain shared by every resumable index service
    * (this one and `graft.ann.IvfService` — ONE implementation of the
    * commit protocol, the tile store's: versions are immutable `v<N>`
    * dirs, moving HEAD is the commit, and nothing above HEAD exists).
    * Recovery is its first step and all of it: every `<relation>/v<M>`
    * with M > HEAD is an uncommitted batch's leftover and is deleted. Then
    * per batch: min/max guards and sparse-id jumps pick the id range,
    * `index/v<N+1>` starts as hardlinks of `index/v<N>` (empty for the
    * first batch), `processBatch(batch, head, index/v<N+1>)` writes every
    * v<N+1> of the batch — index append, a due compaction, labels — and
    * HEAD moves to N+1. The result feeds `afterCommit(committed head,
    * result)`, the place for metrics and retention sweeps. The caller
    * refuses an older layout (`requireLayout`) BEFORE draining. */
  private[graft] def drain[A](rows: DataFrame, idCol: String, stateDir: String,
      batchSize: Long)(
      processBatch: (DataFrame, Head, String) => A)(
      afterCommit: (Head, A) => Unit): Head = {
    require(batchSize > 0, "batchSize must be positive")
    var head = readHead(stateDir)
    CommitLog.versionDirs(Paths.get(stateDir)).collect {
      case (d, v) if v > head.version =>
        CommitLog.deleteVersion(d)
        println(s"[index-service] recovered: deleted uncommitted $d")
    }
    Files.createDirectories(Paths.get(stateDir))
    val maxIdRow = rows.agg(max(col(idCol)), min(col(idCol))).head()
    if (maxIdRow.isNullAt(0)) return head // nothing to do
    val maxId = maxIdRow.getLong(0)
    require(maxIdRow.getLong(1) >= 0L,
      s"$idCol must be non-negative (id-range batching from 0)")
    require(maxId < Long.MaxValue - batchSize,
      s"$idCol $maxId too close to Long.MaxValue for batchSize $batchSize (cursor overflow)")
    val globalMin = maxIdRow.getLong(1)
    while (head.cursor <= maxId) {
      // skip straight to the next existing id — sparse id spaces (holes,
      // snowflake-style ids) must cost one aggregation, not
      // gap/batchSize empty-range iterations. The first iteration (and any
      // resume at/below the source minimum) reuses the min already fetched
      // by the opening max/min aggregation instead of re-scanning; every
      // later iteration pays one source aggregation per batch — acceptable
      // for file-backed slices, and a resident deployment over a large
      // table should lay the source out id-partitioned so this probe (and
      // the batch filter below) prune to a handful of partitions.
      val start =
        if (head.cursor <= globalMin) globalMin
        else {
          val nextRow = rows.where(col(idCol) >= head.cursor).agg(min(col(idCol))).head()
          if (nextRow.isNullAt(0)) return head
          nextRow.getLong(0)
        }
      if (start > head.cursor) {
        // cursor jump over the hole: no version bump, no mutation
        writeAtomic(headFile(stateDir), s"${head.version} $start")
        head = Head(head.version, start)
      }
      val batch = rows
        .where(col(idCol) >= head.cursor && col(idCol) < head.cursor + batchSize)
      val newCursor = math.min(head.cursor + batchSize, maxId + 1)
      val idx = versionDir(stateDir, "index", head.version + 1)
      if (head.version > 0) carryIndex(versionDir(stateDir, "index", head.version), idx)
      val result = processBatch(batch, head, idx.toString)
      writeAtomic(headFile(stateDir), s"${head.version + 1} $newCursor") // commit point
      head = Head(head.version + 1, newCursor)
      afterCommit(head, result)
    }
    head
  }

  /** Process every pending batch of `rows` (id-range batching from the
    * committed cursor; `rows` needs `modality.idCol` plus whatever the
    * modality hashes; ids are assigned monotonically — see DedupService).
    * Returns the committed head after draining. Re-invoking with the same
    * inputs is a no-op; new arrivals process only the tail. */
  def run(rows: DataFrame, stateDir: String, batchSize: Long,
          modality: ClusterModality, keepLabelVersions: Int = 2,
          compactEvery: Int = 0, labelRangeWidth: Long = DefaultLabelRangeWidth)(
      implicit spark: SparkSession): Head = {
    import spark.implicits._
    require(keepLabelVersions >= 1, "keepLabelVersions must be >= 1")
    require(labelRangeWidth > 0, "labelRangeWidth must be positive")
    val idc = modality.idCol
    requireLayout(stateDir, "labels_by_id", "index")
    val lb = lbOf(labelRangeWidth) _
    val ib = lbOf(labelRangeWidth) _ // same range-bucket fn, keyed by id
    drain(rows, idc, stateDir, batchSize) { (batch, head, idx) =>
      val vdir = labelsDir(stateDir, head.version + 1)
      val ibVdir = labelsByIdDir(stateDir, head.version + 1)
      val metrics = if (head.version == 0L) {
        // first non-empty batch: build the index, cluster internally,
        // write the FULL labeling (every bucket is dirty by definition)
        // into BOTH projections
        modality.build(batch, idx)
        val pairs = modality.firstPairs(batch)
        val full = Dedup.connectedComponents(pairs.select("a", "b"), batch.select(idc))
        val obs = org.apache.spark.sql.Observation()
        full.withColumn("lb", lb(col("cluster_id")))
          .observe(obs, count(lit(1)).as("rows"))
          .repartition(col("lb"))
          .write.mode("overwrite").partitionBy("lb").parquet(vdir.toString)
        full.withColumn("ib", ib(col("id")))
          .repartition(col("ib"))
          .write.mode("overwrite").partitionBy("ib").parquet(ibVdir.toString)
        Dedup.releaseCheckpoint(full)
        Dedup.releaseCheckpoint(pairs)
        CommitMetrics(TileStore.leafPartitionDirs(vdir, 1).size, 0,
          obs.get("rows").asInstanceOf[Long],
          TileStore.leafPartitionDirs(ibVdir, 1).size, 0, 0L)
      } else {
        // probe BEFORE append (probe materializes eagerly); then fold
        // the delta and rewrite ONLY the dirty label buckets
        val pairs = modality.probe(idx, batch)
        modality.append(batch, idx)
        val prevLabels = spark.read.parquet(labelsDir(stateDir, head.version).toString)
        val prevById = spark.read.parquet(labelsByIdDir(stateDir, head.version).toString)
        // O(dirty) FOLD READ: the endpoint→representative lookup only needs
        // label rows whose id is a pair endpoint, and such a row lives
        // exactly in ib(endpoint) — prune the id-keyed projection to the
        // endpoint set's buckets (one tiny aggregation over the eager probe
        // result, footprint bounded by the pair count) instead of scanning
        // the corpus-sized labels relation per batch
        val endpointIbs: Seq[Long] = pairs.select(ib(col("a")).as("i"))
          .union(pairs.select(ib(col("b")).as("i")))
          .distinct().as[Long].collect().toSeq
        val foldLabels = prevById
          .where(col("ib").isin(endpointIbs.map(java.lang.Long.valueOf): _*))
          .select("id", "cluster_id")
        val foldReadRows = foldLabels.count() // metric: label rows the fold reads
        val (remap, newRows) = Dedup.incrementalDelta(
          foldLabels, pairs.select("a", "b"), batch.select(idc))
        // remap is CC output (checkpoint-backed, O(batch + touched));
        // `changed` drops the untouched reps / self-labeled batch ids —
        // only actual moves dirty old buckets
        val changed = remap.where(col("rep") =!= col("new_cluster"))
        val dirty: Set[Long] = changed.select(lb(col("rep")).as("l"))
          .union(changed.select(lb(col("new_cluster")).as("l")))
          .union(newRows.select(lb(col("cluster_id")).as("l")))
          .distinct().as[Long].collect().toSet // bounded by O(batch + touched)
        // partition-pruned read of the dirty buckets; apply the remap
        // inside them; batch rows append into their (dirty) buckets.
        // The JOINED frame (old cluster_id + remap target) persists: it
        // feeds the lb write AND the dirty-ib discovery below
        val dirtyOldJoined = prevLabels
          .where(col("lb").isin(dirty.toSeq.map(java.lang.Long.valueOf): _*))
          .join(broadcast(changed), col("cluster_id") === col("rep"), "left")
          .persist()
        val dirtyOld = dirtyOldJoined
          .select(col("id"),
            coalesce(col("new_cluster"), col("cluster_id")).as("cluster_id"))
        val obs = org.apache.spark.sql.Observation()
        val (written, carried) = TileStore.writePartial(TileStore.Partial(
          dirtyOld.unionByName(newRows.select("id", "cluster_id"))
            .withColumn("lb", lb(col("cluster_id")))
            .observe(obs, count(lit(1)).as("rows"))
            .repartition(col("lb")),
          Seq("lb"), dirty.map(b => s"lb=$b")), vdir, Some(labelsDir(stateDir, head.version)))
        // by-id projection commit: a by-id row changes only when it
        // RELABELS (all such rows join a non-null remap target inside the
        // lb store's dirty buckets — their ids give the dirty ib set) or
        // is a batch row; rewrite exactly those buckets, carry the rest as
        // hardlinks (closure argument in the class scaladoc)
        val dirtyIb: Set[Long] = dirtyOldJoined
          .where(col("new_cluster").isNotNull)
          .select(ib(col("id")).as("i"))
          .union(newRows.select(ib(col("id")).as("i")))
          .distinct().as[Long].collect().toSet
        val dirtyById = prevById
          .where(col("ib").isin(dirtyIb.toSeq.map(java.lang.Long.valueOf): _*))
          .join(broadcast(changed), col("cluster_id") === col("rep"), "left")
          .select(col("id"),
            coalesce(col("new_cluster"), col("cluster_id")).as("cluster_id"))
        val (ibWritten, ibCarried) = TileStore.writePartial(TileStore.Partial(
          dirtyById.unionByName(newRows.select("id", "cluster_id"))
            .withColumn("ib", ib(col("id")))
            .repartition(col("ib")),
          Seq("ib"), dirtyIb.map(b => s"ib=$b")), ibVdir,
          Some(labelsByIdDir(stateDir, head.version)))
        dirtyOldJoined.unpersist()
        Dedup.releaseCheckpoint(remap)
        Dedup.releaseCheckpoint(pairs)
        CommitMetrics(written.size, carried, obs.get("rows").asInstanceOf[Long],
          ibWritten.size, ibCarried, foldReadRows)
      }
      // a due compaction rewrites the uncommitted index version, last, so
      // a crash in it strands only v<N+1>
      if (compactEvery > 0 && (head.version + 1) % compactEvery == 0) modality.compact(idx)
      metrics
    } { case (committed, m) =>
      // metrics AFTER the commit (metadata only, not part of the commit)
      CommitLog.append(commitsFile(stateDir),
        s"""{"version": ${committed.version}, "cursor": ${committed.cursor}, """ +
          s""""written_dirs": ${m.writtenDirs}, "carried_dirs": ${m.carriedDirs}, """ +
          s""""written_rows": ${m.writtenRows}, """ +
          s""""ib_written_dirs": ${m.ibWrittenDirs}, "ib_carried_dirs": ${m.ibCarriedDirs}, """ +
          s""""fold_read_rows": ${m.foldReadRows}}""")
      // retention of index and label versions, after the commit (older
      // versions are unreferenced)
      dropVersionsUpTo(stateDir, committed.version - keepLabelVersions)
    }
  }

  /** Per-commit write/read metrics threaded from the batch processor to
    * the post-commit metadata append. */
  private final case class CommitMetrics(writtenDirs: Int, carriedDirs: Int,
      writtenRows: Long, ibWrittenDirs: Int, ibCarriedDirs: Int,
      foldReadRows: Long)

  /** One parsed commits.jsonl record; the ib/fold fields are -1 for lines
    * without them. */
  final case class CommitStat(version: Long, cursor: Long, writtenDirs: Int,
      carriedDirs: Int, writtenRows: Long, ibWrittenDirs: Int,
      ibCarriedDirs: Int, foldReadRows: Long)

  /** The per-commit metric records, oldest first — the evidence surface
    * for BOTH O(dirty) contracts (commit writes ∝ dirty buckets, fold reads
    * ∝ batch endpoints). A truncated line (crash remnant) is dropped. */
  def commitStats(stateDir: String): Seq[CommitStat] =
    CommitLog.records(commitsFile(stateDir)).flatMap { r =>
      for {
        v <- r.long("version")
        c <- r.long("cursor")
        w <- r.int("written_dirs")
        cd <- r.int("carried_dirs")
        wr <- r.long("written_rows")
      } yield CommitStat(v, c, w, cd, wr, r.int("ib_written_dirs").getOrElse(-1),
        r.int("ib_carried_dirs").getOrElse(-1), r.long("fold_read_rows").getOrElse(-1L))
    }
}
