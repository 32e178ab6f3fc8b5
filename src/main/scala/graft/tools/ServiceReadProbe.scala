package graft.tools

import org.apache.spark.sql.functions.col

/** Evidence probe for the r7 O(dirty) FOLD-READ contract: drive the full
  * text dedup service over the sf corpus in fixed-size batches and print
  * each commit's metrics from commits.jsonl — `fold_read_rows` (label rows
  * the endpoint-pruned fold lookup read) must track the batch's pair
  * endpoints while the standing corpus grows ~10×, and the by-id
  * projection's write counts must stay dirty-sized like the lb store's.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch 'runMain graft.tools.ServiceReadProbe [batchSize] [labelRangeWidth]'
  *
  * The width defaults to 256 so the sf-scale corpus spans ~20 buckets —
  * with the production default (65536) a 5k-doc corpus is one bucket and
  * every metric degenerates to "the whole (single-bucket) corpus".
  */
object ServiceReadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val batchSize = args.headOption.flatMap(_.toLongOption).getOrElse(500L)
    val width = args.drop(1).headOption.flatMap(_.toLongOption).getOrElse(256L)
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.spark.Sessions.local(cpus, "service-read-probe")
    val docs = graft.queries.Tables.documents(spark, sfDir).select("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("svc-read-probe").toString
    try {
      val t0 = System.nanoTime()
      graft.dedup.DedupService.run(docs, state, batchSize = batchSize,
        threshold = 0.8, bands = 8, maxBucket = Int.MaxValue,
        keepLabelVersions = 2, labelRangeWidth = width)
      println(f"[svc-read] drained in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(batchSize=$batchSize, width=$width, corpus=${docs.count()})")
      println("[svc-read] version cursor lb_written lb_carried rows ib_written ib_carried fold_read_rows")
      graft.dedup.IndexService.commitStats(state).foreach { s =>
        println(s"[svc-read] v${s.version} ${s.cursor} ${s.writtenDirs} " +
          s"${s.carriedDirs} ${s.writtenRows} ${s.ibWrittenDirs} " +
          s"${s.ibCarriedDirs} ${s.foldReadRows}")
      }
      // the scale claim, asserted: the LAST batch's fold read must not be
      // corpus-sized (the round-6 layout read the whole standing labels
      // relation — corpus minus one batch — per commit)
      val stats = graft.dedup.IndexService.commitStats(state)
      val last = stats.last
      val corpus = docs.count()
      println(s"[svc-read] last-batch fold_read_rows=${last.foldReadRows} vs " +
        s"standing corpus ${corpus - batchSize} (r6 layout read the latter)")
    } finally graft.stream.StreamDedup.deleteTree(state)
  }
}
