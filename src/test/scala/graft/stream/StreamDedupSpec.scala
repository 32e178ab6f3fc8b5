package graft.stream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming near-dedup must converge to the batch phash-join oracle over
  * multi-micro-batch slicings, and saturate degenerate buckets loudly. */
class StreamDedupSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "streamdedup-spec")

  test("streamed verdicts == batch oracle (is-dup-of-any-earlier) over 3 micro-batches") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val n = 300L
    val imgs = (0L until n).map(i => (i, graft.synth.ImageSynth.plantedPhash(i)))
    val df = imgs.toDF("id", "phash")

    // id-ordered slices (the arrival contract), one file per micro-batch
    val base = tempDir("streamdedup")
    val flat = StreamDedup.writeIdOrderedSlices(df, nSlices = 3, sliceSize = 100L, base)

    val got = StreamDedup.runOnce(flat, df.schema, "streamdedup_test")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    val want = StreamDedup.nearDupBatch(df)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap

    assert(want.values.exists(identity) && want.values.exists(!_),
      "planted corpus must contain both dups and originals")
    assert(got === want)
  }

  test("TEXT stream (SimHash inside the stream) == batch oracle over simhashes") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // near-dup copies: same token stream with one word swapped → simhash
    // within a few bits; distinct docs land far apart
    val vocab = Vector("tile", "spark", "heatmap", "pixel", "track", "user",
      "join", "query", "raster", "vector", "zoom", "layer")
    val rnd = new java.util.Random(13)
    def doc(): String = Seq.fill(80)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base0 = (0L until 60L).map(i => (i, doc()))
    val copies = (0 until 15).map { i =>
      val w = base0(i)._2.split(" "); w(7) = vocab(rnd.nextInt(vocab.size))
      (100L + i, w.mkString(" "))
    }
    val docs = (base0 ++ copies).sortBy(_._1)
    val df = docs.toDF("id", "text")

    val base = tempDir("streamtext")
    val flat = StreamDedup.writeIdOrderedSlices(df, nSlices = 3, sliceSize = 50L, base)
    val got = StreamDedup.runOnceText(flat, df.schema, "streamtext_test")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap

    val hashed = docs.map { case (id, t) => (id, graft.dedup.Dedup.simhash64(t)) }
      .toDF("id", "phash")
    val want = StreamDedup.nearDupBatch(hashed)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(want.values.exists(identity) && want.values.exists(!_),
      "corpus must contain both near-dups and originals under simhash dist 3")
    assert(got === want)
  }

  test("EMBEDDING stream (sign-LSH signature inside the stream) == batch oracle over signatures") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // originals: seeded random vectors; near-dups: small perturbations of
    // the first 20 → signatures within a few bits; distinct vectors far
    val rnd = new java.util.Random(41)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextFloat() * 2 - 1)
    val originals = (0L until 80L).map(i => (i, vec()))
    val variants = (0 until 20).map { i =>
      val v = originals(i)._2.clone()
      v(3) += 0.05f; v(17) -= 0.05f
      (100L + i, v)
    }
    val vecsAll = (originals ++ variants).sortBy(_._1)
    val df = vecsAll.toDF("id", "embedding")

    val base = tempDir("streamemb")
    val flat = StreamDedup.writeIdOrderedSlices(df, nSlices = 3, sliceSize = 50L, base)
    val got = StreamDedup.runOnceEmb(flat, df.schema, "streamemb_test", maxDist = 6)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap

    val hashed = vecsAll
      .map { case (id, v) => (id, graft.ann.Ann.lshBucket(v, StreamDedup.EmbSigPlanes)) }
      .toDF("id", "phash")
    val want = StreamDedup.nearDupBatch(hashed, maxDist = 6)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(want.values.exists(identity) && want.values.exists(!_),
      "corpus must contain both near-dups and originals under signature dist 6")
    assert(got === want)
  }

  test("saturated bucket: distinct-only state, stops growing, keeps matching, flags loudly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // one shared low-16-bit block funnels every image into a single bucket.
    // ids 0-29: pairwise-distant high bits (mix64) — no near-dups, so the
    // bucket saturates at cap 10 with DISTINCT members (state dedups exact
    // copies, so identical hashes could never saturate it). ids 30-59:
    // exact copies of id 5's hash — 5 was RETAINED, so a saturated bucket
    // must still match them.
    def distinctHigh(i: Long): Long = (graft.synth.TraceSynth.mix64(i) & ~0xFFFFL) | 0xBEEFL
    val first30 = (0L until 30L).map(i => (i, distinctHigh(i)))
    // construction sanity: the no-near-dup premise must actually hold
    for { (a, pa) <- first30; (b, pb) <- first30 if a < b }
      assert(graft.dedup.Dedup.hamming(pa, pb) > 3, s"seeds $a,$b accidentally near")
    val imgs = (first30 ++ (30L until 60L).map(i => (i, distinctHigh(5L)))).toDF("id", "phash")
    val base = tempDir("streamdedup-cap") + "/imgs"
    imgs.coalesce(1).write.parquet(base)

    val verdicts = {
      val src = s.readStream.schema(imgs.schema).parquet(base)
      val q = StreamDedup.nearDupStream(src, maxDist = 3, maxBucketState = 10).writeStream
        .format("memory").queryName("streamdedup_cap")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamDedup.collapse(s.table("streamdedup_cap"))
        .collect().map(r => (r.getAs[Long]("id"),
          r.getAs[Boolean]("is_dup"), r.getAs[Boolean]("any_bucket_full")))
    }
    val byId = verdicts.map(v => v._1 -> v).toMap
    assert((0L until 30L).forall(!byId(_)._2), "pairwise-distant seeds must not be dups")
    assert((30L until 60L).forall(byId(_)._2), "saturated bucket must keep matching retained members")
    assert((10L until 30L).forall(byId(_)._3), "overflow must be flagged, never silent")
    assert((0L until 10L).forall(!byId(_)._3), "pre-saturation arrivals must not be flagged")
  }
}
