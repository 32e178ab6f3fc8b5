package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TileStore
import graft.model.Schemas.{GlobalPixel, Track}
import graft.synth.{ImageSynth, TraceSynth}

/**
 * Incremental maintenance == batch recompute (SURVEY.md §5.6): processing
 * id-windows through the checkpointed store must converge to exactly the
 * all-at-once pipeline result; committed batches must never re-apply
 * (idempotent resume — the fix for the reference's at-least-once
 * double-count, Worker.cs:122-129). One store drives all assertions.
 */
class IncrementalSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(8, "incremental-spec")

  private val N = 120
  private def testTracks(implicit s: SparkSession) = {
    import s.implicits._
    s.createDataset((0L until N).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
    })
  }

  private lazy val dir = suiteTempDir("tilestore")
  private lazy val ran: Seq[Incremental.BatchResult] = {
    implicit val s: SparkSession = spark
    val store = new TileStore(dir)
    Incremental.runToLatest(store, testTracks, latestId = N - 1, maxContributions = 40)
  }

  test("3 incremental batches == one-shot pipeline; resume skips committed work") {
    implicit val s: SparkSession = spark
    assert(ran.size === 3)
    assert(ran.forall(!_.skipped))
    val store = new TileStore(dir)
    assert(store.currentVersion === 3)
    assert(store.lastCommittedId === N - 1)

    // the incremental global relation equals the one-shot pyramid
    val got = store.read("global", Some(Incremental.globalSchema)).get.collect()
      .map(r => ((r.getAs[Int]("z"), r.getAs[Long]("gx"), r.getAs[Long]("gy")),
        (r.getAs[Long]("users"), r.getAs[Long]("trips")))).toMap
    val want = HeatmapPipeline.run(testTracks).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(want.nonEmpty)
    assert(got.size === want.size)
    assert(got === want)

    // idempotence: re-processing a committed window is a no-op
    val again = Incremental.processBatch(store, testTracks, -1L, 39L)
    assert(again.skipped)
    assert(store.currentVersion === 3)

    // resume: a NEW store instance over the same dir continues, not restarts
    val resumed = new TileStore(dir)
    assert(resumed.lastCommittedId === N - 1)
    assert(Incremental.runToLatest(resumed, testTracks, latestId = N - 1).isEmpty)
  }

  test("commit records carry lineage: id-window + per-partition row metrics") {
    implicit val s: SparkSession = spark
    ran
    val commits = Files.readAllLines(java.nio.file.Paths.get(dir, "commits.jsonl"))
    assert(commits.size() === 3)
    val first = commits.get(0)
    assert(first.contains(""""from_id": -1"""))
    assert(first.contains(""""to_id": 39"""))
    val last = commits.get(2)
    assert(last.contains(s""""to_id": ${N - 1}"""))
    Seq(first, last).foreach { line =>
      assert(line.contains(""""user_tiles""""))
      assert(line.contains(""""partition_rows""""))
      assert(line.contains(""""bytes""""))
    }
    // per-z lineage for the final global relation: all 15 levels present
    assert((0 to 14).forall(z => last.contains(s""""$z":""")), last)
  }

  test("tile lookup (S4), tile enumeration (S5), per-user cursors (S12)") {
    implicit val s: SparkSession = spark
    ran
    val store = new TileStore(dir)
    val tiles = store.tiles(schema = Some(Incremental.globalSchema)).get.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(tiles.nonEmpty)
    assert(tiles.map(_._1).toSet === (0 to 14).toSet)
    val (z, tx, ty) = tiles.filter(_._1 == 14).head
    val one = store.tile(z, tx, ty, schema = Some(Incremental.globalSchema)).get.collect()
    assert(one.nonEmpty)
    one.foreach { r =>
      assert(r.getAs[Long]("gx") / 512 === tx && r.getAs[Long]("gy") / 512 === ty)
    }
    // per-user cursors: last_id per user == max contribution id of that user
    val cursors = store.read("user_cursors", Some(Incremental.userCursorsSchema)).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L until N).map { i =>
      (graft.synth.TraceSynth.userOf(graft.synth.ImageSynth.phashOf(i), 6), i)
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(cursors === want)
  }

  test("dirty-partition commits: write bounded by the dirty subtree, clean partitions carried") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val d = tempDir("tilestore-dirty")
    val store = new TileStore(d)
    // batch A: 80 spread tracks dirty many tile buckets
    // k=1 so the global relation is dense enough that the bounded-write
    // assertion is meaningful (at k=3 the 6-user synthetic corpus survives
    // only ~60 pixels and the ancestor-chain floor dominates)
    assert(!Incremental.processBatch(store, testTracks, -1L, 79L, k = 1).skipped)
    val utTotal = store.read("user_tiles", Some(Incremental.userTilesSchemaP)).get.count()
    val gTotal = store.read("global", Some(Incremental.globalSchemaP)).get.count()
    // batch B: ONE short track confined to a single z14 tile
    val confined = s.createDataset(Seq(graft.model.Schemas.Track(999L, 1L,
      Array(Array(4.4000, 51.0000), Array(4.4005, 51.0004)))))
    assert(!Incremental.processMicroBatch(store, confined, 999L, k = 1).skipped)

    // the commit lineage proves the write was bounded by the dirty subtree:
    // far fewer rows written than the relation holds, clean buckets carried
    // forward as links instead of rewritten
    val last = {
      val lines = Files.readAllLines(java.nio.file.Paths.get(d, "commits.jsonl"))
      lines.get(lines.size() - 1)
    }
    def metric(rel: String, key: String): Long = {
      // non-greedy skip: key may sit after the nested partition_rows object
      val re = (s""""$rel": \\{.*?"$key": (\\d+)""").r.unanchored
      re.findFirstMatchIn(last).map(_.group(1).toLong)
        .getOrElse(fail(s"no $rel.$key in $last"))
    }
    assert(metric("user_tiles", "rows") < utTotal / 4,
      s"user_tiles write not dirty-bounded: wrote ${metric("user_tiles", "rows")} of $utTotal")
    assert(metric("global", "rows") < gTotal / 4,
      s"global write not dirty-bounded: wrote ${metric("global", "rows")} of $gTotal")
    assert(metric("user_tiles", "carried_dirs") > 0)
    assert(metric("global", "carried_dirs") > 0)
    assert(last.contains(""""dirty_tiles": [["""))

    // the read side partition-prunes: the pruned scan's plan carries
    // partition filters on (z, pb), so the scan is bounded by directories,
    // not post-scan filtering
    val pruned = store.readBuckets("global", Some(Incremental.globalSchemaP),
      Seq(graft.io.TileStore.bucketOf(0, 0)), Some(14)).get
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pb"), plan.take(2000))

    // the fused kept scan's (z*Buckets + pb) isin predicate must ALSO land
    // as directory pruning (it references only partition columns): the
    // FileScan's partition count is the dirty-dir count, not the store's
    val someDirs = Seq(14 * TileStore.Buckets + TileStore.bucketOf(0, 0))
    val fusedScan = store.read("global", Some(Incremental.globalSchemaP)).get
      .where(($"z" * TileStore.Buckets + $"pb").isin(someDirs.map(Integer.valueOf): _*))
    val fusedExec = fusedScan.queryExecution.executedPlan
    val scanNode = fusedExec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in fused kept plan"))
    assert(scanNode.partitionFilters.nonEmpty,
      s"fused kept predicate did not become a partition filter: $fusedExec")
    val allDirs = store.read("global", Some(Incremental.globalSchemaP)).get
      .select("z", "pb").distinct().count()
    assert(scanNode.selectedPartitions.partitionCount < allDirs,
      s"fused kept scan read ${scanNode.selectedPartitions.partitionCount} of $allDirs partitions — not pruned")

    // and the spliced state still equals the one-shot pipeline over all input
    val got = store.read("global", Some(Incremental.globalSchema)).get
      .select("z", "gx", "gy", "users", "trips").collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val want = HeatmapPipeline.run(testTracks.where($"contribution_id" <= 79L)
      .unionByName(confined), k = 1).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(got === want)
  }

  test("fused batch AFTER a prior commit writes no duplicate rows (write ⊆ dirty partitions)") {
    // Regression for the round-3 advisor finding: in fused mode the
    // one-scan `kept` used to include rows of CLEAN partitions, which
    // commit also hardlinks forward — every data-bearing clean (z, pb)
    // partition ended up with both files, duplicating (z, gx, gy) rows.
    implicit val s: SparkSession = spark
    import s.implicits._
    val d = tempDir("tilestore-fused")
    val store = new TileStore(d)
    // two successive SPREAD batches (each dirties > FusedCutover of the 64
    // buckets → both take the fused path; the second runs over prev > 0
    // where the hardlink carry is live and their bucket sets don't fully
    // overlap)
    assert(!Incremental.processBatch(store, testTracks, -1L, 59L, k = 1).skipped)
    assert(!Incremental.processBatch(store, testTracks, 59L, N - 1L, k = 1).skipped)
    def fractionOf(batch: org.apache.spark.sql.Dataset[Track]): Double = {
      val buckets = graft.raster.Rasterize.tileVisits(batch).map(_.tkey).distinct().collect()
        .map(tkey => TileStore.bucketOf(tkey >>> 32, tkey & 0xFFFFFFFFL)).distinct.length
      buckets.toDouble / TileStore.Buckets
    }
    assert(fractionOf(testTracks.where($"contribution_id" > 59L)) > Incremental.FusedCutover,
      "batch B did not take the fused path; the regression is untested")

    // no duplicate keys anywhere in the committed relations
    val g = store.read("global", Some(Incremental.globalSchema)).get
      .select("z", "gx", "gy", "users", "trips")
    assert(g.count() === g.select("z", "gx", "gy").distinct().count(),
      "duplicate (z, gx, gy) rows in the committed global relation")
    val ut = store.read("user_tiles", Some(Incremental.userTilesSchemaP)).get
    assert(ut.count() === ut.select("user_id", "tkey").distinct().count())

    // and the store equals the one-shot pipeline as a MULTISET (row count
    // equality catches duplicates that Map-based comparison collapses)
    val got = g.collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val want = HeatmapPipeline.run(testTracks, k = 1).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(g.count() === want.size.toLong)
    assert(got === want)
  }

  test("crash BETWEEN commit record and HEAD move: batch re-runs, no silent loss") {
    implicit val s: SparkSession = spark
    val d2 = tempDir("tilestore-crashwin")
    val store = new TileStore(d2)
    assert(!Incremental.processBatch(store, testTracks, -1L, 39L).skipped)
    assert(store.currentVersion === 1)
    // simulate the crash window: the NEXT batch's record lands in
    // commits.jsonl but HEAD never moves
    val dangling = """{"version": 2, "from_id": 39, "to_id": 79, "relations": {}}"""
    Files.write(java.nio.file.Paths.get(d2, "commits.jsonl"),
      (dangling + "\n").getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    // the dangling record must NOT count as committed (version > HEAD)
    assert(store.lastCommittedId === 39L)
    assert(store.committedBatches === Seq((-1L, 39L)))
    // resume re-runs the lost batch instead of skipping it forever
    val r = Incremental.processBatch(store, testTracks, 39L, 79L)
    assert(!r.skipped)
    assert(store.currentVersion === 2)
    assert(store.lastCommittedId === 79L)
    // and the data is actually there
    assert(store.read("global", Some(Incremental.globalSchema)).get.count() > 0)
  }

  test("F8 pre-check: sub-k tiles are excluded before the pixel-grain rebuild; k-boundary survives") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // F8 is the tile kernel's users >= k HAVING (a pixel's user set ⊆ its
    // tile's): drive a confined batch at k=3 over a prior commit — one tile
    // with 3 users (== k, must survive), one with 1 (keeps no pixel) — and
    // the committed store must still equal the one-shot pipeline
    val d = tempDir("tilestore-f8")
    val store = new TileStore(d)
    assert(!Incremental.processBatch(store, testTracks, -1L, 79L).skipped) // k=3 default
    def at(lon: Double, lat: Double) = Array(Array(lon, lat), Array(lon + 5e-4, lat + 4e-4))
    val confined = s.createDataset(Seq(
      Track(990L, 101L, at(4.4000, 51.0000)), Track(991L, 102L, at(4.4001, 51.0001)),
      Track(992L, 103L, at(4.4002, 51.0002)), // 3 users, one z14 tile → kept
      Track(993L, 901L, at(4.6200, 51.2200)))) // 1 user elsewhere → no pixel
    assert(!Incremental.processMicroBatch(store, confined, 990L).skipped)
    val got = store.read("global", Some(Incremental.globalSchema)).get
      .select("z", "gx", "gy", "users", "trips").collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val want = HeatmapPipeline.run(
      testTracks.where($"contribution_id" <= 79L).unionByName(confined)).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(want.nonEmpty && got === want)
  }

  test("mergeRuns: sorted, pixel-unique union of two runs with the u32 saturating add (A3)") {
    import graft.core.Codec.U32Max
    def run(ps: (Long, Long)*): Array[Long] = ps.map { case (p, t) => (p << 32) | t }.toArray
    def pairs(a: Array[Long]): Seq[(Long, Long)] = a.toSeq.map(e => (e >>> 32, e & U32Max))
    def merge(a: Array[Long], b: Array[Long]) = pairs(graft.functions.TileBuffer.mergeRuns(a, b))
    assert(merge(run((1, 2), (5, 1)), run((3, 4), (9, 1))) === Seq((1, 2), (3, 4), (5, 1), (9, 1)))
    assert(merge(run((1, 2), (3, 1), (7, 5)), run((3, 4), (7, 1), (8, 2))) ===
      Seq((1, 2), (3, 5), (7, 6), (8, 2)))
    // a sum landing exactly on u32 max, and sums past it, read u32 max
    assert(merge(run((4, U32Max - 3)), run((4, 3))) === Seq((4, U32Max)))
    assert(merge(run((4, U32Max - 3), (6, 1)), run((4, 4), (6, U32Max))) === Seq((4, U32Max), (6, U32Max)))
    // one side empty
    assert(merge(Array.empty, run((2, 1), (3, 7))) === Seq((2, 1), (3, 7)))
    assert(merge(run((2, 1)), Array.empty) === Seq((2, 1)))
    assert(merge(Array.empty, Array.empty).isEmpty)
    // randomized against a map oracle: output sorted and pixel-unique
    val rnd = new java.util.Random(7)
    (0 until 200).foreach { _ =>
      def gen(): Array[Long] = run((0 until rnd.nextInt(30)).map { _ =>
        (rnd.nextInt(64).toLong, if (rnd.nextInt(4) == 0) U32Max - rnd.nextInt(3) else 1L + rnd.nextInt(9))
      }.toMap.toSeq.sorted: _*)
      val (a, b) = (gen(), gen())
      val got = merge(a, b)
      assert(got.map(_._1) === got.map(_._1).distinct.sorted)
      assert(got.toMap === (pairs(a) ++ pairs(b)).groupMapReduce(_._1)(_._2)((x, y) => math.min(x + y, U32Max)))
    }
  }

  test("a store whose HEAD has user_pixels but no user_tiles is refused and left untouched") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val root = java.nio.file.Paths.get(tempDir("tilestore-old-layout"))
    val d = root.toString
    val store = new TileStore(d)
    val pb = TileStore.bucketOf(0, 0)
    store.commit(-1L, 39L, relations = Map.empty, partial = Map("user_pixels" -> TileStore.Partial(
      Seq((1L, 100L, 100L, 2L, pb)).toDF("user_id", "gx", "gy", "trips", "pb"), Seq("pb"), Set(s"pb=$pb"))))
    assert(store.currentVersion === 1)
    def tree(): Map[String, Seq[Byte]] = {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(p => root.relativize(p).toString ->
          (if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])).toMap
      } finally walk.close()
    }
    val before = tree()
    val e = intercept[IllegalStateException](Incremental.processBatch(store, testTracks, 39L, 79L))
    assert(e.getMessage.contains("user_pixels") && e.getMessage.contains(d), e.getMessage)
    assert(store.currentVersion === 1)
    assert(before("HEAD") === tree()("HEAD") && before("commits.jsonl") === tree()("commits.jsonl"))
    assert(tree() === before)
  }

  test("time travel: readAt(v) returns each committed version's exact state; dangling/future versions unreadable") {
    implicit val s: SparkSession = spark
    ran
    val store = new TileStore(dir)
    // version 1 state == one-shot over the first id-window only
    val v1 = store.readAt("global", 1L, Some(Incremental.globalSchema)).get
      .select("z", "gx", "gy", "users", "trips").collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    import s.implicits._
    val want1 = HeatmapPipeline.run(testTracks.where($"contribution_id" <= 39L)).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(v1 === want1) // (legitimately empty at k=3 over the first 40 tracks)
    // an intermediate version differs from HEAD and equals ITS id-window
    val v2 = store.readAt("global", 2L, Some(Incremental.globalSchema)).get
      .select("z", "gx", "gy", "users", "trips").collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val want2 = HeatmapPipeline.run(testTracks.where($"contribution_id" <= 79L)).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(v2 === want2)
    // HEAD read == readAt(currentVersion), and the final state is non-empty
    val head = store.read("global", Some(Incremental.globalSchema)).get.count()
    assert(head > 0 && head === store.readAt("global", store.currentVersion,
      Some(Incremental.globalSchema)).get.count())
    // beyond HEAD and version 0: unreadable. The dangling dir carries
    // _SUCCESS (a REAL crashed commit has one — the crash window is between
    // the record append and the HEAD move, after the parquet write), so
    // this exercises the version <= HEAD guard, not just hasSnapshot
    val dangling = java.nio.file.Paths.get(dir, "global", s"v${store.currentVersion + 1}")
    Files.createDirectories(dangling)
    Files.write(dangling.resolve("_SUCCESS"), Array.emptyByteArray)
    assert(store.readAt("global", store.currentVersion + 1, Some(Incremental.globalSchema)).isEmpty,
      "a dangling crash version (record appended, HEAD never moved) must not be readable")
    assert(store.readAt("global", 0L, Some(Incremental.globalSchema)).isEmpty)
  }

  test("version GC: old snapshots unlink, HEAD stays byte-identical, resume + next commit unaffected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val d = tempDir("tilestore-gc")
    val store = new TileStore(d)
    Incremental.runToLatest(store, testTracks, latestId = N - 1, maxContributions = 40)
    assert(store.currentVersion === 3)
    def content(): Map[(Int, Long, Long), (Long, Long)] =
      store.read("global", Some(Incremental.globalSchema)).get
        .select("z", "gx", "gy", "users", "trips").collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    val before = content()

    val (dirs, bytes) = store.gc(keepVersions = 1)
    assert(dirs > 0 && bytes > 0L, s"gc removed nothing: dirs=$dirs bytes=$bytes")
    // old version dirs are gone; HEAD's remain
    assert(!Files.exists(java.nio.file.Paths.get(d, "global", "v1")))
    assert(!Files.exists(java.nio.file.Paths.get(d, "global", "v2")))
    assert(Files.exists(java.nio.file.Paths.get(d, "global", "v3")))
    // hardlink safety: the retained version reads back identically
    assert(content() === before)
    // metadata history intact: committed windows still skip
    assert(Incremental.processBatch(store, testTracks, -1L, 39L).skipped)
    // and the NEXT commit (hardlink carry from the retained version) works
    val confined = s.createDataset(Seq(graft.model.Schemas.Track(777L, 1L,
      Array(Array(4.4000, 51.0000), Array(4.4005, 51.0004)))))
    assert(!Incremental.processMicroBatch(store, confined, 777L).skipped)
    assert(store.currentVersion === 4)
    assert(store.read("global", Some(Incremental.globalSchema)).get.count() > 0)
    // keepVersions floor is enforced
    intercept[IllegalArgumentException](store.gc(keepVersions = 0))

    // crash-mid-gc guard: a half-deleted snapshot must be UNREADABLE, not
    // served as partial data — gc tombstones _SUCCESS before any data file,
    // so the worst crash state looks exactly like this
    val v3 = java.nio.file.Paths.get(d, "global", "v3")
    Files.deleteIfExists(v3.resolve("_SUCCESS"))
    assert(store.readAt("global", 3L, Some(Incremental.globalSchema)).isEmpty,
      "a snapshot without _SUCCESS (gc crash window) must read as None")
  }

  test("long-haul gc: disk high-water stays bounded at 2 live versions over many batches; min-age guard holds") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // physical bytes = unique inodes (hardlink-carried files count ONCE)
    def physicalBytes(root: String): Long = {
      val seen = scala.collection.mutable.Set.empty[Object]
      val walk = Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          val attrs = Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          if (seen.add(attrs.fileKey)) attrs.size else 0L
        }.sum
      } finally walk.close()
    }
    def versionDirs(root: String): Seq[String] = {
      val rels = new java.io.File(root).listFiles().filter(_.isDirectory)
      rels.flatMap(r => Option(r.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(f => s"${r.getName}/${f.getName}")).toSeq
    }
    val gcDir = tempDir("tilestore-longhaul-gc")
    val refDir = tempDir("tilestore-longhaul-ref")
    val gcStore = new TileStore(gcDir)
    val refStore = new TileStore(refDir)
    val batches = (0 until 6).map(i => (i * 20L - 1L, i * 20L + 19L))
    val highWater = scala.collection.mutable.ArrayBuffer.empty[Long]
    batches.foreach { case (from, to) =>
      assert(!Incremental.processBatch(gcStore, testTracks, from, to).skipped)
      assert(!Incremental.processBatch(refStore, testTracks, from, to).skipped)
      gcStore.gc(keepVersions = 2)
      highWater += physicalBytes(gcDir)
    }
    assert(gcStore.currentVersion === 6 && refStore.currentVersion === 6)
    // retention invariant: exactly the last 2 versions remain, per relation
    versionDirs(gcDir).foreach(d =>
      assert(d.endsWith("/v5") || d.endsWith("/v6"), s"stale snapshot survived gc: $d"))
    // the no-gc twin keeps all 6 — physical bytes strictly above the gc'd
    // store even with hardlink sharing (each version owns its dirty writes)
    assert(versionDirs(refDir).size > versionDirs(gcDir).size)
    val (gcBytes, refBytes) = (physicalBytes(gcDir), physicalBytes(refDir))
    assert(gcBytes < refBytes,
      s"gc store ($gcBytes B) not smaller than unbounded twin ($refBytes B)")
    // high-water bound: never more than 2 live versions + metadata — the
    // peak is within 2× the FINAL 2-version footprint (content only grows,
    // so the last measurement is the largest legitimate resident set)
    assert(highWater.max <= 2 * highWater.last,
      s"disk high-water ${highWater.max} vs final ${highWater.last}: growth not bounded")
    // hardlink-carried clean partitions survive gc: state == the twin's
    def content(st: TileStore): Map[(Int, Long, Long), (Long, Long)] =
      st.read("global", Some(Incremental.globalSchema)).get
        .select("z", "gx", "gy", "users", "trips").collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    assert(content(gcStore) === content(refStore))
    assert(content(gcStore).nonEmpty)
    // min-age guard: versions that JUST left HEAD are not unlinked even
    // though keepVersions=1 would take them (snapshot-isolation age floor)
    val (dirsAge, _) = refStore.gc(keepVersions = 1, minAgeSeconds = 3600)
    assert(dirsAge === 0, s"min-age guard failed: unlinked $dirsAge fresh snapshot dirs")
    assert(versionDirs(refDir).size > versionDirs(gcDir).size, "guarded gc must be a no-op")
    // with the guard off the same call collects
    val (dirsNoGuard, _) = refStore.gc(keepVersions = 1)
    assert(dirsNoGuard > 0)
  }

  test("randomized batch sequences (trickle/fused/empty interleaved) always equal one-shot, duplicate-free") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // seeded scenario generator: random cut points produce batches of very
    // different dirty fractions — confined trickle slices, spread slices
    // past the F8 cutover, and empty windows — exercising the F8 gate and
    // the hardlink carry across arbitrary interleavings, at k = 3 (sparse
    // store, most pixels suppressed) and k = 1 (dense store)
    val rnd = new java.util.Random(20260817L)
    for (k <- Seq(3, 1); scenario <- 0 until 3) {
      val d = tempDir(s"tilestore-rand-k$k-$scenario")
      val store = new TileStore(d)
      val cuts = (Seq(-1L, N - 1L) ++ Seq.fill(2 + rnd.nextInt(3))(rnd.nextInt(N).toLong))
        .distinct.sorted
      val windows = cuts.zip(cuts.tail) ++ Seq((N - 1L, N + 10L)) // last window is EMPTY
      windows.foreach { case (from, to) =>
        val r = Incremental.processBatch(store, testTracks, from, to, k)
        assert(!r.skipped)
      }
      val g = store.read("global", Some(Incremental.globalSchema)).get
        .select("z", "gx", "gy", "users", "trips")
      assert(g.count() === g.select("z", "gx", "gy").distinct().count(),
        s"k=$k scenario $scenario (cuts=$cuts): duplicate keys in global")
      val got = g.collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
      val want = HeatmapPipeline.run(testTracks, k = k).pyramid.collect()
        .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
      assert(g.count() === want.size.toLong, s"k=$k scenario $scenario (cuts=$cuts): row count")
      assert(got === want, s"k=$k scenario $scenario (cuts=$cuts): values diverge")
      // user_tiles must also stay duplicate-free across the carries
      val ut = store.read("user_tiles", Some(Incremental.userTilesSchemaP)).get
      assert(ut.count() === ut.select("user_id", "tkey").distinct().count(),
        s"k=$k scenario $scenario: duplicate user_tiles keys")
    }
  }

  test("threshold change between batches: the pyramid stays the sum of the stored z14 layer") {
    // a WorkerConfig.userThreshold redeploy: base commit at k=1, then
    // windows at k=3. Each window rebuilds its dirty tiles at k=3, so their
    // 1–2-user pixels leave the store and the z14 delta is NEGATIVE there:
    // every ancestor of a retracted pixel must shrink by exactly its value
    implicit val s: SparkSession = spark
    import s.implicits._
    val d = tempDir("tilestore-kchange")
    val store = new TileStore(d)
    def checked(label: String): Map[(Int, Long, Long), (Long, Long)] = {
      val g = store.read("global", Some(Incremental.globalSchema)).get
        .select("z", "gx", "gy", "users", "trips")
      assert(g.count() === g.select("z", "gx", "gy").distinct().count(), s"$label: duplicate keys")
      assert(g.where($"users" === 0 && $"trips" === 0).isEmpty, s"$label: all-zero rows")
      val rows = g.as[GlobalPixel].collect()
      val lower = rows.filter(_.z < 14).map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
      // plain Scala sums of each stored z14 pixel over its ancestor chain
      val rolled = rows.filter(_.z == 14).toSeq
        .flatMap(p => (0 until 14).map(z => ((z, p.gx >> (14 - z), p.gy >> (14 - z)), (p.users, p.trips))))
        .groupMapReduce(_._1)(_._2) { case ((u1, t1), (u2, t2)) => (u1 + u2, t1 + t2) }
      assert(lower === rolled, s"$label: z<14 rows are not the sums of their stored z14 descendants")
      rows.map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    }
    assert(!Incremental.processBatch(store, testTracks, -1L, 59L, k = 1).skipped)
    var before = checked("base at k=1")
    var retracted = 0
    Seq((59L, 79L), (79L, 99L), (99L, N - 1L)).foreach { case (from, to) =>
      assert(!Incremental.processBatch(store, testTracks, from, to, k = 3).skipped)
      val label = s"window ($from, $to] at k=3"
      val after = checked(label)
      val dirty = store.dirtyTilesSince(store.currentVersion - 1)
      def rebuilt(key: (Int, Long, Long)): Boolean =
        key._1 == 14 && dirty.contains((key._2 / Incremental.Res, key._3 / Incremental.Res))
      assert(after.collect { case (key, (u, _)) if rebuilt(key) => u }.forall(_ >= 3),
        s"$label: a rebuilt tile kept a pixel below k")
      retracted += before.keys.count(key => rebuilt(key) && !after.contains(key))
      before = after
    }
    assert(retracted > 0, "no k=1 pixel was retracted: the negative delta went untested")
  }

  test("crash before HEAD move leaves the store readable at the old version") {
    implicit val s: SparkSession = spark
    ran
    val store = new TileStore(dir)
    val v = store.currentVersion
    val head = java.nio.file.Paths.get(dir, "HEAD")
    val before = new String(Files.readAllBytes(head))
    // simulate a crash: stray v<N+1> dir with no HEAD update
    Files.createDirectories(java.nio.file.Paths.get(dir, "global", s"v${v + 1}"))
    assert(store.currentVersion === v)
    assert(new String(Files.readAllBytes(head)) === before)
    assert(store.read("global", Some(Incremental.globalSchema)).isDefined)
  }
}
