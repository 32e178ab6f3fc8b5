package graft.pipeline

import org.apache.spark.sql.SparkSession

/**
 * Engine configuration (S14): the reference's `WorkerConfiguration`
 * (`/root/reference/src/HeatMap.Tiles.Service/WorkerConfiguration.cs:3-18`,
 * defaults `Program.cs:34-37`, `appsettings.json:22-26`) re-expressed as
 * `spark.graft.*` conf keys — supplied via `spark-submit --conf` on a
 * cluster, `SparkSession.builder.config` locally.
 *
 * The id window (`maxContributions`) is the only batch bound. The
 * reference's `MaxUsers` mid-scan break (Worker.cs:152) is inherently
 * sequential and only shapes batching, never results, and its
 * `RefreshTime` poll loop is `Trigger.AvailableNow` run-once here, so
 * neither has a key — SURVEY.md §2.4 A1, documented divergence.
 *
 * `keepVersions` (spark.graft.keepVersions) enables snapshot-retention GC
 * after each export. SNAPSHOT-ISOLATION CONTRACT: a reader pins the store
 * version it resolved at plan time, so keepVersions must cover the longest
 * in-flight read window or a slow reader can hit FileNotFoundException
 * mid-job when gc unlinks its version. `gcMinAgeSeconds`
 * (spark.graft.gcMinAgeSeconds, default 0 = off) is the belt-and-braces
 * age floor: a version is unlinked only if it left HEAD at least that long
 * ago (TileStore.gc) — set it to your query SLA when concurrent readers
 * share the store.
 */
final case class WorkerConfig(
    userThreshold: Int,
    maxContributions: Long,
    dataPath: String,
    outputPath: String,
    keepVersions: Option[Int],
    gcMinAgeSeconds: Long)

object WorkerConfig {
  def fromSpark(spark: SparkSession): WorkerConfig = {
    val c = spark.conf
    WorkerConfig(
      userThreshold = c.get("spark.graft.userThreshold", "3").toInt,
      maxContributions = c.get("spark.graft.maxContributions", "10").toLong,
      dataPath = c.get("spark.graft.dataPath", "/tmp/graft-data"),
      outputPath = c.get("spark.graft.outputPath", "/tmp/graft-tiles"),
      keepVersions = c.getOption("spark.graft.keepVersions").map { v =>
        val n = try v.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"spark.graft.keepVersions must be an int >= 1, got '$v'")
        }
        require(n >= 1, s"spark.graft.keepVersions must be >= 1, got $n")
        n
      },
      gcMinAgeSeconds = {
        val v = c.get("spark.graft.gcMinAgeSeconds", "0")
        val n = try v.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"spark.graft.gcMinAgeSeconds must be a long >= 0, got '$v'")
        }
        require(n >= 0, s"spark.graft.gcMinAgeSeconds must be >= 0, got $n")
        n
      })
  }
}
