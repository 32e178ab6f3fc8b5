package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ServiceMain
import graft.io.TileStore
import graft.mvt.MvtJobs
import graft.pipeline.{HeatmapPipeline, Incremental}

/** The benchmark's own tests, at miniature sizes: seeded inputs, the output
  * checks against corrupted results, the store counters and the span
  * arithmetic. `SelfTest <work dir>`; exits non-zero on the first failure. */
object SelfTest {
  private def check(what: String)(cond: Boolean): Unit = {
    if (!cond) throw new AssertionError(what)
    println(s"ok  $what")
  }

  /** Flip one bit of one byte in the first `.mvt` file of a tree. */
  private def flipOneByte(tree: Path): Unit = {
    val w = Files.walk(tree)
    val f = try w.filter(_.toString.endsWith(".mvt")).sorted().findFirst().get() finally w.close()
    val b = Files.readAllBytes(f)
    b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
    Files.write(f, b)
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    implicit val spark: SparkSession = graft.spark.Sessions.local(Runtime.getRuntime.availableProcessors, "perfbench-selftest")

    // seeded inputs
    def rows(seed: Long) = Inputs.tracks(seed, 300).collect().sortBy(_.contribution_id)
      .map(t => (t.contribution_id, t.user_id, t.coords.map(_.toSeq).toSeq))
    check("same seed gives identical tracks")(rows(7).sameElements(rows(7)))
    check("different seeds give different tracks")(!rows(7).sameElements(rows(8)))
    val p1 = work.resolve("t1").toString
    Inputs.write(7, 300, p1)
    check("written tracks read back identical")(Inputs.read(p1).collect().sortBy(_.contribution_id)
      .map(t => (t.contribution_id, t.user_id, t.coords.map(_.toSeq).toSeq)).sameElements(rows(7)))

    // rebuild check: a flipped blob byte changes the tree fingerprint
    val tree = work.resolve("mvt-rebuild")
    val r = HeatmapPipeline.run(Inputs.read(p1))
    try MvtJobs.writeMvtFiles(HeatmapPipeline.mvtAll(r), tree.toString) finally r.release()
    val good = Checks.ofTree(tree)
    check("rebuild tree is non-empty")(good.n > 0)
    check("rebuild check holds on the written tree")(Checks.same("tree", Checks.ofTree(tree), good).isEmpty)
    flipOneByte(tree)
    check("rebuild check fails on one flipped blob byte")(Checks.same("tree", Checks.ofTree(tree), good).nonEmpty)

    // incremental == one-shot: a base batch then one trickle window
    val p2 = work.resolve("t2").toString
    Inputs.write(9, 320, p2)
    val store = new TileStore(work.resolve("store").toString)
    val mvt = work.resolve("mvt-store")
    Incremental.processBatch(store, Inputs.read(p2), -1, 299)
    ServiceMain.exportTiles(store, mvt.toString)
    Incremental.processBatch(store, Inputs.read(p2), 299, 309)
    ServiceMain.exportTiles(store, mvt.toString)
    val global = store.read("global", Some(Incremental.globalSchemaP)).get
    val tracks = Inputs.read(p2).where(col("contribution_id") <= 309)
    def oneShot(g: org.apache.spark.sql.DataFrame, n: Int) =
      Checks.incrementalMatchesOneShot(g, mvt, tracks, work.resolve(s"oneshot-$n"))
    check("store check holds on the committed store")(oneShot(global, 1).isEmpty)
    val first = global.select("z", "gx", "gy").head()
    val dropped = global.where(!(col("z") === first.getInt(0) && col("gx") === first.getLong(1) &&
      col("gy") === first.getLong(2)))
    check("store check fails on one dropped store row")(oneShot(dropped, 2).exists(_.contains("global")))
    flipOneByte(mvt)
    check("store check fails on one flipped exported byte")(oneShot(global, 3).exists(_.contains("mvt")))

    // store counters from commits.jsonl
    val commits = StoreStats.commits(work.resolve("store"))
    check("one commit record per batch")(commits.map(c => (c.fromId, c.toId)) == Seq((-1L, 299L), (299L, 309L)))
    check("the base batch takes the fused branch")(commits.head.dirtyBucketFrac > Incremental.FusedCutover)
    check("a 10-track window takes the bounded cascade")(commits(1).dirtyBucketFrac <= Incremental.FusedCutover)
    check("rows in dirty tiles never exceed rows written")(
      StoreStats.rowsInDirtyTiles(store, commits(1)) <= commits(1).tileRowsWritten)

    // spans: self time and the listener's job attribution
    val tracer = new Tracer(spark)
    tracer.span("root", "r1") {
      tracer.span("a")(spark.range(1000).count())
      tracer.span("b")(Thread.sleep(20))
    }
    val root = tracer.named("root").head
    val kids = tracer.children(root)
    check("children nest under their root")(kids.map(_.name) == Seq("a", "b"))
    check("self times add up to the root")(tracer.selfNs(root) + kids.map(tracer.selfNs).sum == root.durNs)
    check("jobs are attributed to the open span")(
      tracer.counters(kids.head).jobs >= 1 && tracer.counters(kids(1)).jobs == 0)

    spark.stop()
    println("selftest passed")
  }
}
