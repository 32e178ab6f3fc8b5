package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.Track
import graft.synth.{ImageSynth, TraceSynth}

/** The spark-submit service entry end-to-end: conf-driven, streaming and
  * batch modes, MVT tree exported, results equal across modes. */
class ServiceMainSpec extends AnyFunSuite with TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "service-spec")

  private val N = 150
  private def writeTracks(dir: String)(implicit s: SparkSession): Unit = {
    import s.implicits._
    s.createDataset((0L until N).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
    }).write.mode("overwrite").parquet(dir)
  }

  private def runMode(mode: String, userThreshold: Int = 3): (String, Long) = {
    implicit val s: SparkSession = spark
    val data = tempDir(s"svc-data-$mode")
    val out = tempDir(s"svc-out-$mode")
    writeTracks(data)
    s.conf.set("spark.graft.mode", mode)
    s.conf.set("spark.graft.dataPath", data)
    s.conf.set("spark.graft.outputPath", out)
    s.conf.set("spark.graft.maxContributions", "60")
    s.conf.set("spark.graft.userThreshold", userThreshold.toString)
    ServiceMain.run(s)
    val store = new graft.io.TileStore(s"$out/store")
    (out, store.currentVersion)
  }

  test("spark.graft.userThreshold actually reaches the pipeline in BOTH modes") {
    implicit val s: SparkSession = spark
    // k=1 keeps every pixel; k=6 (== the synthetic user cardinality) keeps
    // only pixels every user crossed — the committed stores must differ,
    // and each must equal the one-shot pipeline at ITS k
    def globalOf(out: String) = {
      val store = new graft.io.TileStore(s"$out/store")
      store.read("global", Some(graft.pipeline.Incremental.globalSchema)).get
        .select("z", "gx", "gy", "users", "trips").collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))).toMap
    }
    import s.implicits._
    val oneShotTracks = s.createDataset((0L until N).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
    })
    Seq(("batch", 1), ("service", 6)).foreach { case (mode, k) =>
      val (out, _) = runMode(mode, userThreshold = k)
      val got = globalOf(out)
      val want = graft.pipeline.HeatmapPipeline.run(oneShotTracks, k = k).pyramid.collect()
        .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
      assert(got === want, s"mode=$mode k=$k store != one-shot at that k")
    }
    s.conf.set("spark.graft.userThreshold", "3") // restore for later tests
  }

  test("batch and service modes commit state and export the mvt tree; results equal") {
    implicit val s: SparkSession = spark
    val (outBatch, vBatch) = runMode("batch")
    val (outSvc, vSvc) = runMode("service")
    assert(vBatch >= 1 && vSvc >= 1)
    def globalOf(out: String) = {
      val store = new graft.io.TileStore(s"$out/store")
      store.read("global", Some(graft.pipeline.Incremental.globalSchema)).get.collect()
        .map(r => ((r.getAs[Int]("z"), r.getAs[Long]("gx"), r.getAs[Long]("gy")),
          (r.getAs[Long]("users"), r.getAs[Long]("trips")))).toMap
    }
    val gb = globalOf(outBatch)
    assert(gb.nonEmpty)
    assert(globalOf(outSvc) === gb)
    // mvt trees exist and decode
    Seq(outBatch, outSvc).foreach { out =>
      val mvts = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/mvt"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.toString.endsWith(".mvt")).toList
        } finally st.close()
      }
      assert(mvts.nonEmpty)
      val feats = graft.core.MvtCodec.decodeTile(Files.readAllBytes(mvts.head))
      assert(feats.nonEmpty)
      // TileJSON metadata ships next to the tile tree (mvt.json:1-22)
      val tj = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$out/mvt/mvt.json")), "UTF-8")
      assert(tj.contains(""""id": "heatmap"""") && tj.contains(""""maxzoom": 14""")
        && tj.contains(""""tilejson""""))
    }
  }

  test("incremental export rewrites exactly the dirty tiles + ancestors, byte-identical to full re-export") {
    implicit val s: SparkSession = spark
    import s.implicits._
    def tracksDs = s.createDataset((0L until N).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
    })
    val out = tempDir("svc-incexp")
    val store = new graft.io.TileStore(s"$out/store")
    val mvtDir = s"$out/mvt"

    def mvtFiles(dir: String): Map[String, (Array[Byte], java.nio.file.attribute.FileTime)] = {
      val root = java.nio.file.Paths.get(dir)
      if (!Files.exists(root)) return Map.empty
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".mvt")).map { p =>
          root.relativize(p).toString ->
            ((Files.readAllBytes(p), Files.getLastModifiedTime(p)))
        }.toMap
      } finally st.close()
    }

    // batch 1 + first export (full — no EXPORTED marker yet)
    graft.pipeline.Incremental.processBatch(store, tracksDs, -1L, 99L)
    ServiceMain.exportTiles(store, mvtDir)
    val v1 = store.currentVersion
    assert(store.exportedVersion === v1)
    val before = mvtFiles(mvtDir)
    assert(before.nonEmpty)

    // batch 2 dirties a subset of tiles; the second export must rewrite
    // exactly those + their ancestor chains and nothing else
    graft.pipeline.Incremental.processBatch(store, tracksDs, 99L, N - 1L)
    val dirty = store.dirtyTilesSince(v1)
    assert(dirty.nonEmpty)
    ServiceMain.exportTiles(store, mvtDir)
    assert(store.exportedVersion === store.currentVersion)
    val after = mvtFiles(mvtDir)
    val targets = ServiceMain.withAncestors(dirty)
      .map { case (z, tx, ty) => s"$z/$tx/$ty.mvt" }
    val rewritten = after.keySet.filter { k =>
      !before.contains(k) || before(k)._2 != after(k)._2 // new or mtime bumped
    }
    assert(rewritten.nonEmpty)
    assert(rewritten.subsetOf(targets), s"rewrote outside the dirty set: ${rewritten -- targets}")
    // every target that has data was rewritten (tiles whose pixels all fail
    // k-anonymity produce no file — same as the reference's null-attribute drop)
    assert((targets -- rewritten).forall(t => !after.contains(t)),
      "a dirty tile with data was not rewritten")
    // untouched files are byte-identical leftovers of the first export
    (after.keySet -- rewritten).foreach { k =>
      assert(java.util.Arrays.equals(before(k)._1, after(k)._1), s"clean tile $k changed")
    }

    // the incremental tree equals a full re-export of the same state, byte for byte
    val fullDir = s"$out/mvt_full"
    val g = store.read("global", Some(graft.pipeline.Incremental.globalSchemaP)).get
    val fullTiles = graft.mvt.MvtJobs.encodeLowerFused(
      g.select("z", "gx", "gy", "users", "trips").as[graft.model.Schemas.GlobalPixel])
    graft.mvt.MvtJobs.writeMvtFiles(fullTiles, fullDir)
    val full = mvtFiles(fullDir)
    assert(after.keySet === full.keySet)
    full.foreach { case (k, (bytes, _)) =>
      assert(java.util.Arrays.equals(after(k)._1, bytes), s"tile $k differs from full export")
    }

    // a commit window with NO dirty tiles (empty batch) must still advance
    // the EXPORTED marker — regression for the non-local-return bug where
    // empty targets skipped markExported and every later export re-parsed
    // the same window — while rewriting nothing
    graft.pipeline.Incremental.processMicroBatch(store,
      s.createDataset(Seq.empty[Track]), 7777L)
    assert(store.currentVersion > store.exportedVersion)
    ServiceMain.exportTiles(store, mvtDir)
    assert(store.exportedVersion === store.currentVersion,
      "EXPORTED did not advance past a dirty-tile-free commit")
    val afterEmpty = mvtFiles(mvtDir)
    assert(afterEmpty.keySet === after.keySet)
    afterEmpty.foreach { case (k, (_, mtime)) =>
      assert(mtime === after(k)._2, s"tile $k rewritten by an empty export")
    }
  }

  test("first (full) export writes the flagship's one-shot tree, byte for byte") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tracks = s.createDataset((0L until N).map { i =>
      val ph = ImageSynth.phashOf(i)
      Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
    })
    def mvtFiles(dir: String): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir)
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".mvt"))
          .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      } finally st.close()
    }
    val out = tempDir("svc-fullexp")
    val store = new graft.io.TileStore(s"$out/store")
    graft.pipeline.Incremental.processBatch(store, tracks, -1L, N - 1L, k = 3)
    assert(store.exportedVersion === 0L)
    ServiceMain.exportTiles(store, s"$out/mvt")
    assert(store.exportedVersion === store.currentVersion)

    val r = graft.pipeline.HeatmapPipeline.run(tracks, k = 3)
    try graft.mvt.MvtJobs.writeMvtFiles(graft.pipeline.HeatmapPipeline.mvtAll(r), s"$out/oneshot")
    finally r.release()

    val exported = mvtFiles(s"$out/mvt")
    val oneShot = mvtFiles(s"$out/oneshot")
    assert(exported.nonEmpty)
    assert(exported.keySet === oneShot.keySet)
    oneShot.foreach { case (k, bytes) =>
      assert(exported(k) === bytes, s"tile $k differs from the one-shot export")
    }
  }
}
