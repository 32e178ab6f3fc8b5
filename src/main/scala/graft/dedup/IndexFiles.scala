package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/**
 * Shared file maintenance for the persisted incremental indexes
 * (`LshIndex`, `PhashIndex`, `Ann`'s IVF): append fragments their
 * hive-partitioned tables one file per touched directory per batch, so
 * probes open ~batches files per directory until a compaction rewrite.
 * A service runs the compaction inside an uncommitted index version, so
 * its crash strands only that version; a standalone index (no HEAD) relies
 * on the staged two-rename swap and `recover` below.
 */
private[graft] object IndexFiles {

  /** Rewrite `dir/sub` to one file per `partCol` partition (or one file
    * total when unpartitioned). Crash-safe by a two-rename swap: the
    * rewrite stages into `sub.compacting`, then live→`sub.old`,
    * staged→live, backup deleted. A crash between the renames leaves NO
    * live dir plus the `.old` backup, which `recover` rolls back — never
    * a mixed layout. */
  def compactDir(dir: String, sub: String, partitioned: Boolean,
                 partCol: String = "bpb")(
      implicit spark: SparkSession): Unit = {
    val live = java.nio.file.Paths.get(dir, sub)
    val tmp = java.nio.file.Paths.get(dir, s"$sub.compacting")
    val old = java.nio.file.Paths.get(dir, s"$sub.old")
    graft.stream.StreamDedup.deleteTree(tmp.toString)
    graft.stream.StreamDedup.deleteTree(old.toString)
    val df = spark.read.parquet(live.toString)
    val writer =
      if (partitioned) df.repartition(col(partCol)).write.partitionBy(partCol)
      else df.coalesce(1).write
    writer.mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.move(live, old)
    java.nio.file.Files.move(tmp, live)
    graft.stream.StreamDedup.deleteTree(old.toString)
  }

  /** Roll back a compaction that crashed between its two renames (no
    * live dir, `.old` backup present). Cheap no-op otherwise; probes
    * call this first. */
  def recover(dir: String, sub: String): Unit = {
    val live = java.nio.file.Paths.get(dir, sub)
    val old = java.nio.file.Paths.get(dir, s"$sub.old")
    if (!java.nio.file.Files.exists(live) && java.nio.file.Files.exists(old))
      java.nio.file.Files.move(old, live)
  }
}
