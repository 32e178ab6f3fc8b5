package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Schemas.Track
import graft.stream.StreamingHeatmap
import graft.synth.TraceSynth

/** Seeded track generation. The benchmark owns the generator; the program
  * only ever sees the parquet files written here. */
object Inputs {
  /** Distinct contributors. With ~1,500 users a z14 pixel on the synthetic
    * road lattice still collects >= 3 users in the busy tiles, so the
    * k-anonymity filter keeps a real share of pixels. */
  val Users = 1500

  /** Parquet files per track table: fixed, so the program's input split count
    * does not depend on how the benchmark generated it. */
  val Files = 8

  /** The walk seed of track `id` under workload seed `seed`. TraceSynth puts
    * 20 % of walks in the hot urban core and scatters the rest over the
    * satellite hubs. */
  def walkSeed(seed: Long, id: Long): Long =
    TraceSynth.mix64(TraceSynth.mix64(seed) ^ id)

  def track(seed: Long, id: Long): Track = {
    val ph = walkSeed(seed, id)
    Track(id, TraceSynth.userOf(ph, Users), TraceSynth.trace(ph))
  }

  /** Tracks with contribution ids `[0, n)`. */
  def tracks(seed: Long, n: Long)(implicit spark: SparkSession): Dataset[Track] = {
    import spark.implicits._
    val s = seed
    spark.range(0, n, 1, Files).map(i => track(s, i))
  }

  def write(seed: Long, n: Long, path: String)(implicit spark: SparkSession): Unit =
    tracks(seed, n).write.mode("overwrite").parquet(path)

  def read(path: String)(implicit spark: SparkSession): Dataset[Track] = {
    import spark.implicits._
    spark.read.schema(StreamingHeatmap.trackSchema).parquet(path).as[Track]
  }
}
