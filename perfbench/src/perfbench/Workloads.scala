package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, length, size, sum}

import graft.ServiceMain
import graft.agg.{HeatmapAgg, Pyramid}
import graft.io.TileStore
import graft.model.Schemas.Track
import graft.mvt.MvtJobs
import graft.pipeline.{HeatmapPipeline, Incremental}
import graft.raster.Rasterize

/** What one run measured: operations attempted and failed, metric values by
  * name (units live in `Workloads.EndToEnd` and `Workloads.PerLayer`), and
  * facts for the run record. */
final case class Outcome(attempted: Int, failed: Int, metrics: Map[String, Double],
                         facts: Seq[(String, Any)], errors: Seq[String])

final class Workloads(seed: Long, seconds: Double, traced: Boolean, work: Path, rebuildTracks: Long,
                      sessionS: Double, golden: Golden)(implicit spark: SparkSession) {
  import Workloads._

  private val k = HeatmapAgg.KAnonymity
  private val cores = spark.sparkContext.defaultParallelism
  private val heap = new HeapWatch
  val tracer = new Tracer(spark)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  private def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".mvt")).mapToLong(f => Files.size(f)).sum
    finally w.close()
  }

  /** Run `setup` once; the set-up time is the session start plus the set-up. */
  private def setUp[S](setup: Path => S): (S, Double) = {
    val (state, t) = Stats.timed(setup(work.resolve("setup")))
    System.err.println(s"[perfbench] session ${sessionS}s, set-up ${t}s")
    (state, sessionS + t)
  }

  private def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median self time (s) of the spans named `name`. */
  private def selfS(name: String): Double = medianOf(tracer.named(name).map(s => tracer.selfNs(s) / 1e9))

  /** Median over the spans named `name` of a value of the span and its counters. */
  private def spanMedian(name: String)(f: (Span, SpanCounters) => Double): Double =
    medianOf(tracer.named(name).map(s => f(s, tracer.counters(s))))

  /** Median share of a root span's time its children account for. */
  private def layerSumRatio(root: String): Double =
    medianOf(tracer.named(root).map(r => tracer.children(r).map(tracer.selfNs).sum.toDouble / r.durNs))

  /** Whether operation `i` of the timed loop is traced: a traced run
    * alternates untraced and traced operations, starting and ending
    * untraced, so the comparison does not ride the warm-up trend. */
  private def isTraced(i: Int): Boolean = traced && i % 2 == 1

  /** Whether the timed loop starts operation `i`: at least `minOps` (three
    * in a traced run: untraced, traced, untraced), then until `seconds` have
    * passed and the last one was untraced. */
  private def another(i: Int, t0: Long, minOps: Int): Boolean =
    i < (if (traced) math.max(minOps, 3) else minOps) ||
      Stats.secs(System.nanoTime() - t0) < seconds || isTraced(i - 1)

  // ---------------------------------------------------------------- rebuild

  /** The one-shot path: tracks (read from parquet) → z0–z14 MVT tree on disk. */
  private def rebuildOnce(tracks: Dataset[Track], out: Path): Unit = {
    val r = HeatmapPipeline.run(tracks)
    try MvtJobs.writeMvtFiles(HeatmapPipeline.mvtAll(r), out.toString)
    finally r.release()
  }

  /** The same rebuild, one span per layer. Each layer's output is persisted
    * and counted before the next layer starts, so no layer's time includes
    * recomputing an earlier one. Returns the layer counters. */
  private def rebuildTraced(tracksPath: String, out: Path, run: String): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double]
    var cached = List.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = { ds.persist(); cached ::= ds; ds }
    val (tcells, partials, tiles) = tracer.span("rebuild", run) {
      val tracks = Inputs.read(tracksPath)
      // the same input spread HeatmapPipeline.run applies
      val spread =
        if (tracks.rdd.getNumPartitions < cores) tracks.repartition(cores * 2) else tracks
      val tv = tracer.span("raster") {
        val tv = keep(Rasterize.tileVisits(spread)); c("raster.rows_out") = tv.count(); tv
      }
      val tc = tracer.span("agg.tiles") {
        val tc = keep(HeatmapAgg.tileCells(tv)); c("agg.tiles.rows_out") = tc.count(); tc
      }
      val partials = tracer.span("agg.pyramid") {
        val p = keep(Pyramid.lowerPartials(tc, k)); c("agg.pyramid.partials_out") = p.count(); p
      }
      val tiles = tracer.span("mvt.encode") {
        val m = keep(MvtJobs.encodeZ14FromTileCells(tc, k).union(MvtJobs.encodeLowerFused(partials)))
        c("mvt.tiles_out") = m.count(); m
      }
      tracer.span("mvt.write")(MvtJobs.writeMvtFiles(tiles, out.toString))
      (tc, partials, tiles)
    }
    c("mvt.bytes_out") = tiles.select(sum(length(col("mvt")))).head().getLong(0)
    // Off the mvtAll path, measured beside it: the z14 pixel explode with
    // the k-anonymity filter, and the sibling merge of pyramid partials.
    c("agg.z14.pixels_kept") = tracer.span("agg.z14", run + "-z14")(HeatmapAgg.cellsToPixels(tcells, k).count())
    c("agg.z14.candidates") = tcells.select(sum(size(col("cells")))).head().getLong(0)
    c("agg.pyramid.rows_out") = tracer.span("agg.pyramid.merge", run + "-merge")(Pyramid.mergePartials(partials).count())
    cached.foreach(_.unpersist())
    c.toMap
  }

  def rebuild(): Outcome = {
    val golden = this.golden.lookup(seed, rebuildTracks)
    val ((tracksPath, ref), setupS) = setUp { dir =>
      val path = dir.resolve("tracks").toString
      Inputs.write(seed, rebuildTracks, path)
      val out = dir.resolve("mvt-warm")
      for (_ <- 1 to WarmRebuilds) { deleteTree(out); rebuildOnce(Inputs.read(path), out) }
      (path, Checks.ofTree(out))
    }
    val want = golden.getOrElse(ref)
    val errors = mutable.ArrayBuffer.empty[String]
    if (golden.exists(_ != ref)) errors += s"warm-up rebuild: got $ref, golden $want"
    val times = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0
    var bytes = 0L
    val out = work.resolve("mvt")
    heap.arm()
    val t0 = System.nanoTime()
    while (another(attempted, t0, MinRebuilds)) {
      val tracedRep = isTraced(attempted)
      deleteTree(out)
      attempted += 1
      val ok = try {
        if (tracedRep) {
          layers += rebuildTraced(tracksPath, out, s"rebuild-$attempted")
          tracedTimes += tracer.named("rebuild").last.durNs / 1e9
        } else times += Stats.timed(rebuildOnce(Inputs.read(tracksPath), out))._2
        bytes = treeBytes(out)
        Checks.same(s"rebuild $attempted", Checks.ofTree(out), want).map(errors += _).isEmpty
      } catch { case e: Exception => errors += s"rebuild $attempted: $e"; false }
      if (!ok) failed += 1
    }
    heap.disarm()
    if (golden.isEmpty && !errors.exists(_.startsWith("warm-up")))
      System.err.println(s"[perfbench] no golden fingerprint for seed $seed at $rebuildTracks tracks: $ref")
    val facts = Seq("tracks" -> rebuildTracks, "tiles" -> want.n, "fingerprint" -> want.fp,
      "golden" -> golden.isDefined, "rebuild_samples_s" -> times, "heap_peak_mb" -> heap.peakMb)
    if (!traced) {
      val med = medianOf(times.toSeq)
      Outcome(attempted, failed, Map("setup_s" -> setupS, "rebuild_s" -> med, "batch_p50_s" -> med,
        "contrib_per_s" -> rebuildTracks / med), facts, errors.toSeq)
    } else {
      def lm(name: String) = medianOf(layers.map(_.getOrElse(name, 0.0)).toSeq)
      def counter(name: String)(f: SpanCounters => Double) = spanMedian(name)((_, c) => f(c))
      val given = Map(
        "raster.busy_s" -> selfS("raster"),
        "raster.rows_out" -> lm("raster.rows_out"),
        "agg.tiles.busy_s" -> selfS("agg.tiles"),
        "agg.tiles.shuffle_bytes" -> counter("agg.tiles")(_.shuffleWriteBytes.toDouble),
        "agg.tiles.spill_bytes" -> counter("agg.tiles")(_.spillBytes.toDouble),
        "agg.tiles.task_skew" -> counter("agg.tiles")(_.taskSkew()),
        "agg.tiles.rows_out" -> lm("agg.tiles.rows_out"),
        "agg.z14.busy_s" -> selfS("agg.z14"),
        "agg.z14.pixels_kept" -> lm("agg.z14.pixels_kept"),
        "agg.z14.kept_ratio" -> lm("agg.z14.pixels_kept") / math.max(lm("agg.z14.candidates"), 1.0),
        "agg.pyramid.busy_s" -> selfS("agg.pyramid"),
        "agg.pyramid.partials_out" -> lm("agg.pyramid.partials_out"),
        "agg.pyramid.rows_out" -> lm("agg.pyramid.rows_out"),
        "mvt.encode.busy_s" -> selfS("mvt.encode"),
        "mvt.encode.shuffle_bytes" -> counter("mvt.encode")(_.shuffleWriteBytes.toDouble),
        "mvt.tiles_out" -> lm("mvt.tiles_out"),
        "mvt.bytes_out" -> lm("mvt.bytes_out"),
        "mvt.write.busy_s" -> selfS("mvt.write"),
        "trace.layer_sum_ratio" -> layerSumRatio("rebuild"),
        "trace.overhead_s" -> (medianOf(tracedTimes.toSeq) - medianOf(times.toSeq)),
        "heap_peak_mb" -> heap.peakMb,
        "write_bytes_per_contrib" -> bytes.toDouble / rebuildTracks,
        "error_rate" -> failed.toDouble / attempted)
      Outcome(attempted, failed, given, facts, errors.toSeq)
    }
  }

  // ---------------------------------------------------------------- trickle

  /** The service loop over a base store: windows of `Window`
    * contributions, each committed with `Incremental.processBatch` and
    * exported with `ServiceMain.exportTiles`, one poller, back to back. */
  def trickle(): Outcome = {
    val window = Window
    val base = BaseTracks
    // enough input for any plausible number of windows in one run
    val total = base + window * 100
    final case class State(dir: Path, tracks: String, store: TileStore)
    def runWindow(st: State, from: Long): Unit = {
      Incremental.processBatch(st.store, Inputs.read(st.tracks), from, from + window)
      ServiceMain.exportTiles(st.store, st.dir.resolve("mvt").toString)
    }
    def runWindowTraced(st: State, from: Long, run: String): Unit =
      tracer.span("window", run) {
        tracer.span("pipeline.commit")(
          Incremental.processBatch(st.store, Inputs.read(st.tracks), from, from + window))
        tracer.span("service.export")(
          ServiceMain.exportTiles(st.store, st.dir.resolve("mvt").toString))
      }
    // The base build is one fused-branch batch over an empty store (every
    // bucket dirty) and the first, full export; its time goes to the run
    // record. No warm-up window: the run budget holds two windows, and the
    // median of both, the first cold, spreads less across runs than one
    // warm window (README, "Run budget").
    val ((st, baseS), setupS) = setUp { dir =>
      val path = dir.resolve("tracks").toString
      Inputs.write(seed, total, path)
      val st = State(dir, path, new TileStore(dir.resolve("store").toString))
      val baseS = Stats.timed {
        Incremental.processBatch(st.store, Inputs.read(path), -1, base - 1)
        ServiceMain.exportTiles(st.store, dir.resolve("mvt").toString)
      }._2
      (st, baseS)
    }
    val storeRoot = st.dir.resolve("store")
    val errors = mutable.ArrayBuffer.empty[String]
    val times = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var from = base - 1
    heap.arm()
    val t0 = System.nanoTime()
    while (another(attempted, t0, MinWindows) && from + window < total) {
      val tracedRep = isTraced(attempted)
      attempted += 1
      try {
        if (tracedRep) {
          runWindowTraced(st, from, s"window-$attempted")
          tracedTimes += tracer.named("window").last.durNs / 1e9
        } else times += Stats.timed(runWindow(st, from))._2
      } catch { case e: Exception => errors += s"window $attempted: $e"; failed += 1 }
      from += window
    }
    heap.disarm()
    val commits = StoreStats.commits(storeRoot)
    val windows = commits.drop(1) // every commit after the base build
    // incremental == one-shot over every committed track. That first
    // one-shot rebuild warms the path; `OneShotReps` more of the same
    // tracks are timed, each checked against it: their median is
    // trickle's rebuild_s.
    val committed = Inputs.read(st.tracks).where(col("contribution_id") <= commits.map(_.toId).max)
    val oneShot = work.resolve("mvt-oneshot")
    val oneShotTimes = mutable.ArrayBuffer.empty[Double]
    try {
      errors ++= Checks.incrementalMatchesOneShot(
        st.store.read("global", Some(Incremental.globalSchemaP)).get, st.dir.resolve("mvt"), committed, oneShot)
      val want = Checks.ofTree(oneShot)
      for (i <- 1 to OneShotReps) {
        val out = work.resolve(s"mvt-oneshot-$i")
        try {
          oneShotTimes += Stats.timed(rebuildOnce(committed, out))._2
          Checks.same(s"one-shot rebuild $i", Checks.ofTree(out), want).foreach(errors += _)
        } finally deleteTree(out)
      }
    } catch { case e: Exception => errors += s"one-shot check: $e" }
    finally deleteTree(oneShot)
    // a wrong store cannot be pinned on one window: every window fails
    if (errors.exists(e => !e.startsWith("window"))) failed = attempted
    val contribs = windows.map(_.contributions).sum
    val facts = Seq(
      "base_tracks" -> base, "window" -> window, "base_build_s" -> baseS,
      "base_dirty_bucket_frac" -> commits.head.dirtyBucketFrac,
      "windows" -> windows.size, "window_s" -> times, "oneshot_rebuild_s" -> oneShotTimes,
      // every window: which Incremental branch each took
      "dirty_bucket_frac" -> windows.map(_.dirtyBucketFrac),
      "rows_written" -> windows.map(_.rowsWritten), "heap_peak_mb" -> heap.peakMb)
    if (!traced) {
      Outcome(attempted, failed, Map("setup_s" -> setupS,
        "rebuild_s" -> (if (oneShotTimes.isEmpty) Double.NaN else Stats.median(oneShotTimes.toSeq)),
        "batch_p50_s" -> medianOf(times.toSeq),
        "contrib_per_s" -> contribs / times.sum), facts, errors.toSeq)
    } else {
      val tw = windows.zipWithIndex.filter(w => isTraced(w._2)).map(_._1)
      def io(f: Commit => Double) = medianOf(tw.map(f))
      def counter(name: String)(f: (Span, SpanCounters) => Double) = spanMedian(name)(f)
      val given = Map(
        "pipeline.commit.busy_s" -> selfS("pipeline.commit"),
        "pipeline.commit.jobs" -> counter("pipeline.commit")((_, c) => c.jobs.toDouble),
        "pipeline.commit.task_s" -> counter("pipeline.commit")((_, c) => c.taskMs / 1e3),
        "pipeline.commit.busy_frac" -> counter("pipeline.commit")((s, c) => c.taskMs / 1e3 / (s.durNs / 1e9 * cores)),
        "pipeline.commit.shuffle_bytes" -> counter("pipeline.commit")((_, c) => c.shuffleWriteBytes.toDouble),
        "io.dirty_tiles" -> io(_.dirtyTiles.size.toDouble),
        "io.dirty_bucket_frac" -> io(_.dirtyBucketFrac),
        "io.rows_written" -> io(_.rowsWritten.toDouble),
        "io.bytes_written" -> io(_.bytesWritten.toDouble),
        "io.written_dirs" -> io(_.writtenDirs.toDouble),
        "io.carried_dirs" -> io(_.carriedDirs.toDouble),
        // reads the committed versions back, outside every span
        "io.useful_write_ratio" -> io(c =>
          StoreStats.rowsInDirtyTiles(st.store, c).toDouble / math.max(c.tileRowsWritten, 1L)),
        "service.export.busy_s" -> selfS("service.export"),
        "service.export.jobs" -> counter("service.export")((_, c) => c.jobs.toDouble),
        "service.export.tiles" -> io(c => ServiceMain.withAncestors(c.dirtyTiles.toSet).size.toDouble),
        "trace.layer_sum_ratio" -> layerSumRatio("window"),
        // the first window runs cold (no warm-up window), so it is left out
        "trace.overhead_s" -> (medianOf(tracedTimes.toSeq) - medianOf(times.drop(1).toSeq)),
        "heap_peak_mb" -> heap.peakMb,
        "write_bytes_per_contrib" -> windows.map(_.bytesWritten).sum.toDouble / contribs,
        "error_rate" -> failed.toDouble / attempted)
      Outcome(attempted, failed, given, facts, errors.toSeq)
    }
  }

  def close(): Unit = heap.close()
}

object Workloads {
  val Names = Seq("rebuild", "trickle")

  /** Tracks of the `rebuild` workload, and of the benchmark's own tests. */
  val RebuildTracks = 20000L
  val MiniRebuildTracks = 2000L

  /** Tracks in `trickle`'s base store: the largest store whose run fits the
    * run budget (README, "Trickle base-store size"). */
  val BaseTracks = 2000L

  /** Contributions per `trickle` window: the reference's MAX_CONTRIBUTIONS. */
  val Window = 10L

  /** Untimed rebuilds in `rebuild`'s set-up. After one, the first timed
    * rebuild still ran ~15 % slower than the next; after two, the first
    * three timed ones were within 2 % of each other. */
  val WarmRebuilds = 2

  /** Fewest timed rebuilds in a run, so the median has three samples. */
  val MinRebuilds = 3

  /** Fewest timed `trickle` windows in a run: two, the most the run budget
    * holds (README, "Run budget"). */
  val MinWindows = 2

  /** Timed one-shot rebuilds of the committed tracks, after the check, in a
    * `trickle` run: trickle's rebuild_s is their median. */
  val OneShotReps = 7

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rebuild_s" -> "s", "batch_p50_s" -> "s", "contrib_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "raster.busy_s" -> "s", "raster.rows_out" -> "rows",
    "agg.tiles.busy_s" -> "s", "agg.tiles.shuffle_bytes" -> "B", "agg.tiles.spill_bytes" -> "B",
    "agg.tiles.task_skew" -> "ratio", "agg.tiles.rows_out" -> "rows",
    "agg.z14.busy_s" -> "s", "agg.z14.pixels_kept" -> "rows", "agg.z14.kept_ratio" -> "ratio",
    "agg.pyramid.busy_s" -> "s", "agg.pyramid.partials_out" -> "rows", "agg.pyramid.rows_out" -> "rows",
    "mvt.encode.busy_s" -> "s", "mvt.encode.shuffle_bytes" -> "B", "mvt.tiles_out" -> "tiles",
    "mvt.bytes_out" -> "B", "mvt.write.busy_s" -> "s",
    "pipeline.commit.busy_s" -> "s", "pipeline.commit.jobs" -> "count", "pipeline.commit.task_s" -> "s",
    "pipeline.commit.busy_frac" -> "ratio", "pipeline.commit.shuffle_bytes" -> "B",
    "io.dirty_tiles" -> "tiles", "io.dirty_bucket_frac" -> "ratio", "io.rows_written" -> "rows",
    "io.bytes_written" -> "B", "io.written_dirs" -> "count", "io.carried_dirs" -> "count",
    "io.useful_write_ratio" -> "ratio",
    "service.export.busy_s" -> "s", "service.export.jobs" -> "count", "service.export.tiles" -> "tiles",
    "trace.layer_sum_ratio" -> "ratio", "trace.overhead_s" -> "s", "heap_peak_mb" -> "MB",
    "write_bytes_per_contrib" -> "B", "error_rate" -> "ratio")
}
