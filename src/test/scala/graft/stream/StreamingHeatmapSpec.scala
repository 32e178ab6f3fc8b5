package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TileStore
import graft.model.Schemas.Track
import graft.pipeline.{HeatmapPipeline, Incremental}
import graft.synth.{ImageSynth, TraceSynth}

/**
 * Streaming == batch: micro-batches driven by Structured Streaming through
 * the incremental store must converge to the one-shot pipeline result, and
 * a restart with the same checkpoint must not re-apply committed batches.
 */
class StreamingHeatmapSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(8, "streaming-spec")

  private val N = 90
  private def allTracks: Seq[Track] = (0L until N).map { i =>
    val ph = ImageSynth.phashOf(i)
    Track(i, TraceSynth.userOf(ph, 6), TraceSynth.trace(ph))
  }

  test("streamed micro-batches converge to the one-shot pipeline; restart is a no-op") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val base = tempDir("stream")
    val srcDir = s"$base/src"
    val ckDir = s"$base/ck"
    val storeDir = s"$base/store"
    // 3 source files = 3 micro-batches (maxFilesPerTrigger=1)
    allTracks.grouped(30).zipWithIndex.foreach { case (chunk, i) =>
      s.createDataset(chunk).coalesce(1).write.parquet(s"$srcDir/chunk$i")
    }
    // streaming source reads the dir recursively? — use the flat layout
    val flat = s"$base/flat"
    new java.io.File(flat).mkdirs()
    (0 until 3).foreach { i =>
      val files = new java.io.File(s"$srcDir/chunk$i").listFiles().filter(_.getName.endsWith(".parquet"))
      files.zipWithIndex.foreach { case (f, j) =>
        Files.copy(f.toPath, java.nio.file.Paths.get(flat, s"part-$i-$j.parquet"))
      }
    }

    val store = new TileStore(storeDir)
    StreamingHeatmap.runOnce(flat, store, ckDir)

    assert(store.currentVersion === 3, "3 micro-batches committed")
    val got = store.read("global", Some(Incremental.globalSchema)).get.collect()
      .map(r => ((r.getAs[Int]("z"), r.getAs[Long]("gx"), r.getAs[Long]("gy")),
        (r.getAs[Long]("users"), r.getAs[Long]("trips")))).toMap
    val want = HeatmapPipeline.run(s.createDataset(allTracks)).pyramid.collect()
      .map(p => ((p.z, p.gx, p.gy), (p.users, p.trips))).toMap
    assert(want.nonEmpty)
    assert(got === want)

    // restart with the same checkpoint: no new data → no new commits
    StreamingHeatmap.runOnce(flat, new TileStore(storeDir), ckDir)
    assert(new TileStore(storeDir).currentVersion === 3)
  }
}
