package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Versioned parquet tile store with atomic HEAD commits, per-batch lineage
 * and per-partition metrics — the engine's checkpointed state
 * (re-expressing the reference's file-per-tile store + state.json cursor,
 * `/root/reference/src/HeatMap.Tiles/HeatMap.cs:146-170`,
 * `Service/State.cs:8-15`, `Worker.cs:65-74,126-129`) with the semantics
 * the reference lacks: idempotent, atomic, resumable (the reference
 * re-applies uncommitted work at-least-once and double-counts —
 * Worker.cs:122-129; we commit data + cursor atomically instead).
 *
 * Layout under `root`:
 *   <name>/v<N>/...parquet      immutable snapshot versions (optionally
 *                               hive-partitioned, e.g. z=14/pb=3/)
 *   HEAD                        text: committed version number
 *   EXPORTED                    text: last version whose dirty tiles have
 *                               been exported as vector tiles
 *   commits.jsonl               one JSON line per committed batch:
 *                               batch id-window, row/byte metrics per
 *                               relation and per partition (lineage), and
 *                               the batch's dirty z14 tile set (appended
 *                               and read through `CommitLog`)
 *
 * Scale posture — DIRTY-PARTITION commits: big relations are
 * hive-partitioned by a TILE BUCKET (`pb`, plus `z` for the pyramid);
 * a batch rewrites ONLY the partitions its dirty tiles live in and
 * carries every clean partition forward into the new version as
 * HARDLINKS of the previous version's files (no data copy — the plain-
 * filesystem analog of an Iceberg commit reusing unchanged manifests).
 * Per-batch write volume is therefore bounded by the dirty-tile set ×
 * bucket granularity, not the world. Readers resolve HEAD → version dir;
 * a crash mid-write leaves a dangling v<N+1> directory that is never
 * referenced and is overwritten by the retried batch.
 */
class TileStore(root: String)(implicit spark: SparkSession) {
  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)

  private def headFile = rootPath.resolve("HEAD")
  private def exportedFile = rootPath.resolve("EXPORTED")
  private def commitsFile = rootPath.resolve("commits.jsonl")

  def currentVersion: Long =
    if (Files.exists(headFile)) new String(Files.readAllBytes(headFile), StandardCharsets.UTF_8).trim.toLong
    else 0L

  def snapshotPath(name: String, version: Long = currentVersion): String =
    rootPath.resolve(name).resolve(s"v$version").toString

  def hasSnapshot(name: String, version: Long = currentVersion): Boolean =
    Files.exists(Paths.get(snapshotPath(name, version), "_SUCCESS"))

  /** Read a snapshot. `schema` makes empty snapshots readable (a relation
    * legitimately empty after a batch writes only _SUCCESS — parquet can't
    * infer a schema from zero files). Hive partition columns (z, pb) are
    * appended from the directory names when partition dirs exist. */
  def read(name: String, schema: Option[StructType] = None): Option[DataFrame] =
    readAt(name, currentVersion, schema)

  /** Time-travel read: the relation AS OF a committed version (snapshot
    * isolation — every version directory is immutable once HEAD moved past
    * it). Versions inside the `gc` retention window are always readable;
    * an unlinked or never-committed version returns None. Dangling
    * v<HEAD+1> dirs from a crashed commit are NOT readable (version must
    * be ≤ HEAD — the record isn't authoritative until HEAD moves). */
  def readAt(name: String, version: Long,
             schema: Option[StructType] = None): Option[DataFrame] =
    if (version > 0 && version <= currentVersion && hasSnapshot(name, version)) {
      val reader = schema.fold(spark.read)(sc => spark.read.schema(sc))
      Some(reader.parquet(snapshotPath(name, version)))
    } else None

  /** Read a snapshot pruned to a set of tile buckets (and optionally one
    * pyramid level): the filters land on the hive PARTITION columns, so
    * Spark prunes directories — the scan is bounded by the dirty buckets,
    * never the world. Falls back to an unpruned read when the snapshot has
    * no partition dirs (empty relation). */
  def readBuckets(name: String, schema: Option[StructType], buckets: Seq[Int],
                  z: Option[Int] = None): Option[DataFrame] =
    read(name, schema).map { df =>
      import org.apache.spark.sql.functions.col
      if (!df.columns.contains("pb")) df // empty snapshot: nothing to prune
      else {
        val byBucket = df.where(col("pb").isin(buckets.map(Integer.valueOf): _*))
        z.fold(byBucket)(lv => byBucket.where(col("z") === lv))
      }
    }

  /** S4 — tile point lookup: the global relation pruned to one (z, tx, ty)
    * tile. z and the tile bucket are physical partitions (directory
    * pruning); tx/ty prune via parquet min/max row-group stats. */
  def tile(z: Int, tx: Long, ty: Long, res: Int = 512,
           schema: Option[StructType] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    readBuckets("global", schema, Seq(TileStore.bucketOf(tx, ty)), Some(z)).map { g =>
      g.where(floor(col("gx") / res) === tx && floor(col("gy") / res) === ty)
    }
  }

  /** S5 — tile enumeration: distinct (z, tx, ty) with data (fixes the
    * reference's glob-extension bug, HeatMap.cs:38-62 vs :148). */
  def tiles(res: Int = 512, schema: Option[StructType] = None): Option[DataFrame] =
    read("global", schema).map { g =>
      import org.apache.spark.sql.functions._
      g.select(col("z"), floor(col("gx") / res).cast("long").as("tx"),
        floor(col("gy") / res).cast("long").as("ty")).distinct()
    }

  /** Last committed batch cursor (the reference's LastContributionId). */
  def lastCommittedId: Long = committedBatches.map(_._2).foldLeft(-1L)(math.max)

  /** (fromId, toId) windows already committed — resume skips these.
    *
    * A commit record is authoritative only up to HEAD: the record is
    * appended BEFORE HEAD moves, so a crash in between leaves a dangling
    * record whose version exceeds `currentVersion`. Filtering on
    * `version <= currentVersion` makes that batch eligible for re-run
    * (idempotent: the retry overwrites the dangling v<N+1> snapshot and
    * re-appends; duplicate lines for the same version are harmless since
    * HEAD decides). Without the filter the batch would be skipped forever —
    * silent data loss behind an "exactly-once" facade. */
  def committedBatches: Seq[(Long, Long)] = {
    val head = currentVersion
    CommitLog.records(commitsFile).flatMap { r =>
      for { v <- r.long("version") if v <= head; f <- r.long("from_id"); t <- r.long("to_id") } yield (f, t)
    }
  }

  /** Last version whose dirty tiles were exported as vector tiles (0 =
    * never exported → the exporter does a full export). */
  def exportedVersion: Long =
    if (Files.exists(exportedFile))
      new String(Files.readAllBytes(exportedFile), StandardCharsets.UTF_8).trim.toLong
    else 0L

  /** Record that everything up to `version` has been exported (atomic;
    * written AFTER the tile files land, so a crash mid-export re-exports —
    * idempotent, the rewrite is byte-identical). */
  def markExported(version: Long): Unit =
    AtomicWrite.write(exportedFile, version.toString)

  /** Union of the dirty z14 tile sets of every committed batch with
    * `sinceVersion < version <= HEAD` (from the commit lineage — bounded by
    * the same per-batch contract as the reference's in-memory HashSet). */
  def dirtyTilesSince(sinceVersion: Long): Set[(Long, Long)] = {
    val head = currentVersion
    CommitLog.records(commitsFile).filter(_.long("version").exists(v => v > sinceVersion && v <= head))
      .flatMap(_.pairs("dirty_tiles")).toSet
  }

  /** Version retention GC: delete snapshot directories older than
    * `currentVersion - keepVersions + 1` across every relation. At
    * planetary scale the versioned store otherwise grows without bound —
    * every commit adds a v<N> tree (mostly hardlinks, but directory
    * entries and the dirty partitions' files accumulate).
    *
    * Hardlink-safe by construction: carry-forward links share INODES, so
    * unlinking an old version's names never touches data still referenced
    * by a retained version — the filesystem frees a file only when its
    * last name goes. Metadata (commits.jsonl, HEAD, EXPORTED) is never
    * touched: batch idempotence and the incremental exporter need the full
    * record history, which is lines of JSON, not data.
    *
    * Returns (directories removed, bytes unlinked). "Unlinked" counts the
    * names removed; physical space is freed only for inodes whose last
    * link died (exactly the dirty-partition files older versions owned
    * exclusively). Crash-safe: deleting is idempotent and readers only
    * resolve HEAD, which is always ≥ the retention floor. Concurrent
    * long-running readers pin the version they resolved at plan time —
    * size `keepVersions` to cover the longest in-flight read window
    * (the snapshot-isolation contract every versioned store has).
    *
    * `minAgeSeconds` is the belt-and-braces enforcement of that contract:
    * a version is unlinked only if it left HEAD at least that long ago
    * (timestamp of the SUCCEEDING commit record — a reader can only have
    * resolved v while v was HEAD, so v+1's commit time bounds the start of
    * any in-flight read of v; with v+1's record missing, the EARLIEST
    * later commit's timestamp is the conservative substitute bound). 0
    * disables the guard (run-once jobs where no concurrent reader
    * exists). A fully legacy store with no ts_ms anywhere stays deletable
    * as before the guard existed. */
  def gc(keepVersions: Int = 2, minAgeSeconds: Long = 0): (Int, Long) = {
    require(keepVersions >= 1, s"must keep at least the HEAD version, got $keepVersions")
    require(minAgeSeconds >= 0, s"minAgeSeconds must be >= 0, got $minAgeSeconds")
    val floor = currentVersion - keepVersions + 1
    if (floor <= 1) return (0, 0L)
    val tsOf: Map[Long, Long] =
      if (minAgeSeconds <= 0) Map.empty
      else CommitLog.records(commitsFile).flatMap(r =>
        for (v <- r.long("version"); t <- r.long("ts_ms")) yield v -> t).toMap
    def oldEnough(v: Long): Boolean = minAgeSeconds <= 0 || {
      tsOf.get(v + 1) match {
        case Some(t) => System.currentTimeMillis - t >= minAgeSeconds * 1000L
        case None =>
          // v's own commit time is when it BECAME head, not when it left —
          // useless as an upper bound on the read window. But ANY later
          // commit's timestamp works (v left HEAD at v+1's commit, which
          // is ≤ every later commit): mixed-era stores reclaim pre-ts_ms
          // versions once a later record proves them provably old, while
          // a truncated successor record alone never unlinks a snapshot a
          // pinned reader may still scan. A fully legacy store (no ts_ms
          // anywhere) retains pre-guard deletability.
          val later = tsOf.collect { case (k, t) if k > v => t }
          if (later.isEmpty) tsOf.isEmpty
          else System.currentTimeMillis - later.min >= minAgeSeconds * 1000L
      }
    }
    val old = CommitLog.versionDirs(rootPath).collect { case (d, v) if v < floor && oldEnough(v) => d }
    (old.size, old.map(CommitLog.deleteVersion).sum)
  }

  /** Regular files under a snapshot dir. With `leaves`, only the
    * snapshot's top-level files and those in the given leaf partition dirs
    * — what a partial commit wrote, without the clean dirs it carried. */
  private def snapshotFiles(path: Path, leaves: Option[Set[String]]): List[Path] =
    if (!Files.exists(path)) Nil
    else {
      val s = Files.walk(path)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(f => Files.isRegularFile(f) && leaves.forall(ls =>
          f.getParent == path || ls.contains(path.relativize(f.getParent).toString))).toList
      } finally s.close()
    }

  private def dirBytes(path: Path, leaves: Option[Set[String]] = None): Long =
    snapshotFiles(path, leaves).map(Files.size).sum

  /** Write-time stats from parquet FOOTERS (driver-side metadata reads, no
    * Spark job, no data scan — the Iceberg-manifest analog): total rows +
    * rows per first-level partition-directory value. */
  private def footerStats(path: Path, partitioned: Boolean,
                          leaves: Option[Set[String]] = None): (Long, Map[String, Long]) = {
    val conf = spark.sessionState.newHadoopConf()
    val files = snapshotFiles(path, leaves).filter(_.getFileName.toString.endsWith(".parquet"))
    // footer reads are tiny but latency-bound; a partitioned commit has one
    // file per dirty dir (can be hundreds) — read them in parallel
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val counted: List[(Path, Long)] = Await.result(
      Future.traverse(files) { f => Future {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try reader.getRecordCount finally reader.close()
        (f, n)
      }},
      scala.concurrent.duration.Duration.Inf)
    var total = 0L
    val perPart = scala.collection.mutable.Map.empty[String, Long]
    counted.foreach { case (f, n) =>
      total += n
      if (partitioned) {
        // hive-style dir name "<col>=<value>" directly under the snapshot root
        val rel = path.relativize(f)
        if (rel.getNameCount > 1) {
          val seg = rel.getName(0).toString
          val v = seg.indexOf('=') match { case -1 => seg; case i => seg.substring(i + 1) }
          perPart.updateWith(v) { c => Some(c.getOrElse(0L) + n) }
        }
      }
    }
    (total, perPart.toMap)
  }

  /**
   * Write the given relations as version N+1 and commit atomically:
   * parquet first, then the commit record, then HEAD (rename). `full`
   * relations are rewritten completely; `partial` relations write only
   * their dirty partitions and carry clean partitions forward as
   * hardlinks. Metrics capture rows/bytes WRITTEN this commit (per
   * relation and per partition value — lineage) plus the counts of leaf
   * dirs written (a declared dirty dir that got no rows is not) and
   * carried; `dirtyTiles` (the batch's z14 dirty set) rides in the record
   * for the incremental exporter.
   *
   * Concurrency: no relation's write reads another's output, so each
   * relation's write, footer stats and hardlink carry run on their own
   * thread, and the commit lasts as long as its slowest relation. The
   * threads are created by the calling thread, so they inherit its Spark
   * local properties: every job the commit submits carries the caller's
   * job group and description (a job-group cancel reaches them all).
   *
   * Failure: the commit waits for every write to finish before it returns
   * or rethrows the first failure (in argument order, full relations
   * first; later ones ride along as suppressed). The record is appended
   * and HEAD moved only after all writes succeeded, so a failed commit
   * leaves HEAD and `commits.jsonl` as they were and at most a dangling
   * v<N+1>, which the retried batch overwrites.
   */
  def commit(batchFrom: Long, batchTo: Long,
             relations: Map[String, (DataFrame, Option[String])],
             partial: Map[String, TileStore.Partial] = Map.empty,
             dirtyTiles: Option[Seq[(Long, Long)]] = None): Long = {
    val prev = currentVersion
    val next = prev + 1
    val fullWrites = relations.toSeq.map { case (name, (df, partitionBy)) => () =>
      val path = rootPath.resolve(name).resolve(s"v$next")
      val writer = df.write.mode("overwrite")
      partitionBy.fold(writer)(c => writer.partitionBy(c)).parquet(path.toString)
      val (rows, partRows) = footerStats(path, partitionBy.isDefined)
      val perPartition =
        if (partitionBy.isEmpty) "{}"
        else partRows.map { case (v, n) => s""""$v": $n""" }.toSeq.sorted.mkString("{", ", ", "}")
      s""""$name": {"rows": $rows, "bytes": ${dirBytes(path)}, "partition_rows": $perPartition}"""
    }
    val partialWrites = partial.toSeq.map { case (name, p) => () =>
      val path = rootPath.resolve(name).resolve(s"v$next")
      val prevSnapshot =
        if (prev == 0 || !hasSnapshot(name, prev)) None
        else Some(rootPath.resolve(name).resolve(s"v$prev"))
      // a retried batch may find a dangling v<next> from a crash — the
      // writer overwrites it
      val (written, carried) = TileStore.writePartial(p, path, prevSnapshot)
      // metrics of what THIS commit wrote: the carried leaf dirs are links
      val (rows, partRows) = footerStats(path, partitioned = true, Some(written))
      val perPartition =
        partRows.map { case (v, n) => s""""$v": $n""" }.toSeq.sorted.mkString("{", ", ", "}")
      s""""$name": {"rows": $rows, "bytes": ${dirBytes(path, Some(written))}, "partition_rows": $perPartition, """ +
        s""""written_dirs": ${written.size}, "carried_dirs": $carried}"""
    }
    val metrics = TileStore.runAll(fullWrites ++ partialWrites)
    val tilesJson = dirtyTiles.fold("") { ts =>
      ts.map { case (tx, ty) => s"[$tx, $ty]" }.mkString(""", "dirty_tiles": [""", ", ", "]")
    }
    val record =
      s"""{"version": $next, "ts_ms": ${System.currentTimeMillis}, "from_id": $batchFrom, "to_id": $batchTo$tilesJson, """ +
        s""""relations": {${metrics.mkString(", ")}}}"""
    CommitLog.append(commitsFile, record)
    AtomicWrite.write(headFile, next.toString)
    next
  }
}

object TileStore {
  /** Run `tasks` on one thread each and return their results in order. The
    * pool's threads are created here, by the calling thread, so they
    * inherit its Spark local properties (job group, description, any
    * caller-set key). Every task finishes before this returns or rethrows
    * the first failure in task order; later failures are suppressed into it. */
  private def runAll[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.isEmpty) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val done = pool.invokeAll(tasks.map(t => (() => t()): java.util.concurrent.Callable[T]).asJava).asScala.toSeq
        val failures = done.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach { first =>
          failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        }
        done.map(_.get())
      } finally pool.shutdownNow()
    }

  /** A partial (dirty-partition-only) write: `rows` must contain EXACTLY
    * the new content of the dirty partitions; every other partition of the
    * previous version is hardlinked forward unchanged. */
  final case class Partial(rows: DataFrame, partitionCols: Seq[String], dirtyDirs: Set[String])

  /** The dirty-partition writer behind every partial commit (the tile
    * store's relations and the index service's label projections): write
    * `p.rows` to `path` (overwrite — a retry replaces a dangling dir from a
    * crash), refuse a written leaf dir outside `p.dirtyDirs`, then hardlink
    * every clean leaf dir of `prev` into `path`. Returns the written leaf
    * dirs (relative, e.g. "z=14/pb=3") and the carried-dir count. */
  def writePartial(p: Partial, path: Path, prev: Option[Path]): (Set[String], Int) = {
    p.rows.write.mode("overwrite").partitionBy(p.partitionCols: _*).parquet(path.toString)
    val depth = p.partitionCols.length
    val written = leafPartitionDirs(path, depth).toSet
    // every UNdeclared prev partition hardlinks forward below — a stray
    // write would silently duplicate its rows
    val stray = written -- p.dirtyDirs
    require(stray.isEmpty,
      s"partial write to $path emitted rows outside its declared dirty partitions " +
        s"(would duplicate hardlink-carried data): ${stray.take(5).mkString(", ")}")
    val clean = prev.fold(Seq.empty[String])(leafPartitionDirs(_, depth).filterNot(p.dirtyDirs.contains))
    // the overwrite wiped `path`, so only dirty partitions exist there; a
    // clean dir can't collide
    prev.foreach(from => clean.foreach(rel => linkDir(from.resolve(rel), path.resolve(rel))))
    (written, clean.size)
  }

  /** Leaf partition dirs (depth = `depth` of `col=value` segments) under a
    * snapshot dir, as relative strings like "z=14/pb=3". */
  private[graft] def leafPartitionDirs(snapshot: Path, depth: Int): Seq[String] =
    if (!Files.exists(snapshot)) Seq.empty
    else {
      def walk(dir: Path, level: Int): Seq[Path] =
        if (level == depth) Seq(dir)
        else {
          val s = Files.list(dir)
          val subs = try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.filter(p =>
              Files.isDirectory(p) && p.getFileName.toString.contains("=")).toList
          } finally s.close()
          subs.flatMap(walk(_, level + 1))
        }
      walk(snapshot, 0).map(p => snapshot.relativize(p).toString)
    }

  /** Hardlink every regular file under `from` into the same relative
    * location under `to` (no data copy — clean partitions carried forward
    * into the new immutable version). */
  private[graft] def linkDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val dst = to.resolve(from.relativize(f))
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, f)
      }
    } finally s.close()
  }


  /** Tile-bucket count for the partitioned relations. Sized so a sandbox
    * store gets real multi-partition layouts without thousands of tiny
    * dirs; at planetary scale this is the knob that bounds how much clean
    * data a dirty tile drags into its partition rewrite (scan/write per
    * batch ≈ world × dirtyBuckets / Buckets). */
  val Buckets = 64

  /** Bucket of a z14 tile (driver-side form). */
  def bucketOf(tx: Long, ty: Long): Int =
    ((tx * 31 + ty) % Buckets).toInt

  /** Bucket of a z14 tile (column form — same arithmetic, so Spark filters
    * on the partition column agree with driver-side sets). */
  def bucketCol(tx: Column, ty: Column): Column = {
    import org.apache.spark.sql.functions._
    pmod(tx * 31 + ty, lit(Buckets)).cast("int")
  }
}
