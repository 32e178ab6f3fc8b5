package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The embedding service and the cross-signal service vs batch mode — the
 * DedupServiceSpec contract on the remaining modalities: at every
 * committed point the standing labels equal the batch-mode clustering of
 * everything below the cursor (for cross-signal: CC over the UNION of the
 * text MinHash pairs and the embedding cosine pairs), across incremental
 * arrival, restarts, and injected crashes.
 */
class CrossSignalServiceSpec extends AnyFunSuite {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(4, "cross-service-spec")

  private val noCap = Int.MaxValue

  /** Joint corpus: 60 docs with ids 0..59; text near-dups planted by the
    * documents table itself (sf0.001), embedding near-dups planted as
    * perturbed copies connecting OTHERWISE-UNRELATED texts — so the
    * cross-signal clustering genuinely differs from either single signal. */
  private def corpus = {
    import spark.implicits._
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") < 60).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val rnd = new java.util.Random(17)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val vecs = new Array[Array[Float]](docs.length)
    docs.indices.foreach { i => vecs(i) = vec() }
    // semantic pairs between texts the Jaccard signal would never merge:
    // (7, 41) and (13, 55) share near-identical embeddings
    def near(v: Array[Float]) = { val c = v.clone(); c(2) += 0.02f; c }
    vecs(41) = near(vecs(7)); vecs(55) = near(vecs(13))
    docs.zip(vecs).map { case ((id, t), v) => (id, t, v) }.toSeq
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col(df.columns(0)), col(df.columns(1))).as[(Long, Long)].collect().toMap
  }

  test("embedding service: multi-batch run == batch-mode lshClusters; crash excised on resume") {
    import spark.implicits._
    val vecsDf = corpus.map { case (id, _, v) => (id, v) }.toDF("vec_id", "embedding")
    def batchMode = labelMap(graft.ann.Ann.lshClusters(vecsDf,
      threshold = 0.9, nPlanes = 12, maxBucket = noCap))
    val state = java.nio.file.Files.createTempDirectory("emb-service").toString
    try {
      val head = graft.ann.EmbService.run(vecsDf, state, batchSize = 20,
        threshold = 0.9, nPlanes = 12, maxBucket = noCap, labelRangeWidth = 16)
      assert(head.version === 3 && head.cursor === 60L)
      assert(labelMap(graft.ann.EmbService.labels(state)) === batchMode)
      // re-run no-op
      assert(graft.ann.EmbService.run(vecsDf, state, batchSize = 20,
        threshold = 0.9, nPlanes = 12, maxBucket = noCap, labelRangeWidth = 16) === head)
      // injected crash: half-appended next index version, HEAD unmoved
      val more = corpus.map { case (id, _, v) => (id, v) } ++
        corpus.take(10).map { case (id, _, v) => (100L + id, v.clone()) } // dups of old
      val moreDf = more.toDF("vec_id", "embedding")
      graft.ann.EmbIndex.append(
        moreDf.where(col("vec_id") >= 100L && col("vec_id") < 105L),
        ServiceStates.nextIndex(state), nPlanes = 12)
      graft.ann.EmbService.run(moreDf, state, batchSize = 20,
        threshold = 0.9, nPlanes = 12, maxBucket = noCap, labelRangeWidth = 16)
      assert(labelMap(graft.ann.EmbService.labels(state)) ===
        labelMap(graft.ann.Ann.lshClusters(moreDf,
          threshold = 0.9, nPlanes = 12, maxBucket = noCap)))
    } finally graft.stream.StreamDedup.deleteTree(state)
  }

  test("cross-signal service: labels == CC over (text MinHash pairs ∪ embedding cosine pairs)") {
    import spark.implicits._
    val rows = corpus.toDF("doc_id", "text", "embedding")
    def batchMode = {
      val textPairs = Dedup.minhashNearDups(rows.select("doc_id", "text"),
        threshold = 0.8, bands = 8, maxBucket = noCap).select("a", "b")
      val embPairs = graft.ann.Ann.lshNearDupPairs(
        rows.selectExpr("doc_id AS vec_id", "embedding"),
        threshold = 0.9, nPlanes = 12, maxBucket = noCap).select("a", "b")
      labelMap(Dedup.connectedComponents(textPairs.unionByName(embPairs),
        rows.select("doc_id")))
    }
    val want = batchMode
    // the planted semantic pairs must actually merge clusters the text
    // signal alone would not (otherwise this test proves nothing)
    assert(want(41L) === want(7L) && want(55L) === want(13L),
      "planted embedding pairs did not merge")
    val textOnly = labelMap(Dedup.connectedComponents(
      Dedup.minhashNearDups(rows.select("doc_id", "text"),
        threshold = 0.8, bands = 8, maxBucket = noCap).select("a", "b"),
      rows.select("doc_id")))
    assert(textOnly(41L) !== textOnly(7L),
      "corpus degenerate: the text signal already merges the planted semantic pair")

    val state = java.nio.file.Files.createTempDirectory("cross-service").toString
    try {
      val head = CrossSignalService.run(rows, state, batchSize = 20,
        textThreshold = 0.8, bands = 8, embThreshold = 0.9, nPlanes = 12,
        maxBucket = noCap, labelRangeWidth = 16)
      assert(head.version === 3 && head.cursor === 60L)
      assert(labelMap(CrossSignalService.labels(state)) === want)
      // re-run no-op, then an injected crash on the TEXT side of the index
      assert(CrossSignalService.run(rows, state, batchSize = 20,
        textThreshold = 0.8, bands = 8, embThreshold = 0.9, nPlanes = 12,
        maxBucket = noCap, labelRangeWidth = 16) === head)
      val more = (corpus ++ corpus.take(5).map { case (id, t, v) => (100L + id, t, v) })
        .toDF("doc_id", "text", "embedding")
      LshIndex.append(more.where(col("doc_id") >= 100L).select("doc_id", "text"),
        s"${ServiceStates.nextIndex(state)}/text", bands = 8)
      CrossSignalService.run(more, state, batchSize = 20,
        textThreshold = 0.8, bands = 8, embThreshold = 0.9, nPlanes = 12,
        maxBucket = noCap, labelRangeWidth = 16)
      val wantMore = {
        val textPairs = Dedup.minhashNearDups(more.select("doc_id", "text"),
          threshold = 0.8, bands = 8, maxBucket = noCap).select("a", "b")
        val embPairs = graft.ann.Ann.lshNearDupPairs(
          more.selectExpr("doc_id AS vec_id", "embedding"),
          threshold = 0.9, nPlanes = 12, maxBucket = noCap).select("a", "b")
        labelMap(Dedup.connectedComponents(textPairs.unionByName(embPairs),
          more.select("doc_id")))
      }
      assert(labelMap(CrossSignalService.labels(state)) === wantMore)
    } finally graft.stream.StreamDedup.deleteTree(state)
  }
}
