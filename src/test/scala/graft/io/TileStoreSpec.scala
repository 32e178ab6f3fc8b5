package graft.io

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dirty-partition writer shared by `TileStore.commit` and the index
  * service's label projections: its guard, its carry and its report; and
  * the commit's concurrent relation writes: their failure rule and the job
  * group they run under. */
class TileStoreSpec extends AnyFunSuite with graft.TempDirs {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(2, "tile-store-spec")

  private def nlink(leaf: Path): Int = {
    val f = leaf.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.getAttribute(f.toPath, "unix:nlink").asInstanceOf[Number].intValue
  }

  test("writePartial: a stray partition is refused, clean partitions carry as hardlinks") {
    import spark.implicits._
    val root = Paths.get(tempDir("tile-store-writer"))
    val v1 = root.resolve("v1")
    Seq((1L, 14, 0), (2L, 14, 1), (3L, 13, 2)).toDF("id", "z", "pb")
      .write.partitionBy("z", "pb").parquet(v1.toString)
    // v2 rewrites z=14/pb=1 and adds z=13/pb=3; z=12/pb=5 is declared
    // dirty but gets no rows; z=14/pb=0 and z=13/pb=2 are clean
    val v2 = root.resolve("v2")
    val (written, carried) = TileStore.writePartial(TileStore.Partial(
      Seq((20L, 14, 1), (30L, 13, 3)).toDF("id", "z", "pb"), Seq("z", "pb"),
      Set("z=14/pb=1", "z=13/pb=3", "z=12/pb=5")), v2, Some(v1))
    assert(written === Set("z=14/pb=1", "z=13/pb=3"))
    assert(carried === 2)
    // the written dirs hold fresh files, the carried ones links of v1's
    assert(written.map(w => nlink(v2.resolve(w))) === Set(1))
    Seq("z=14/pb=0", "z=13/pb=2").foreach { c =>
      assert(nlink(v2.resolve(c)) >= 2, s"carried $c is a copy, not a hardlink")
    }
    assert(spark.read.parquet(v2.toString).select("id").as[Long].collect().toSet ===
      Set(1L, 20L, 3L, 30L))
    // a row in an undeclared partition: refused before anything is carried
    val v3 = root.resolve("v3")
    val e = intercept[IllegalArgumentException] {
      TileStore.writePartial(TileStore.Partial(
        Seq((40L, 14, 1), (50L, 14, 7)).toDF("id", "z", "pb"), Seq("z", "pb"),
        Set("z=14/pb=1")), v3, Some(v2))
    }
    assert(e.getMessage.contains("z=14/pb=7"), e.getMessage)
    assert(!Files.exists(v3.resolve("z=14/pb=0")), "clean dir carried past the guard")
  }

  test("commit: written_dirs counts the leaf dirs actually written, not the declared ones") {
    import spark.implicits._
    val root = Paths.get(tempDir("tile-store-commit"))
    val store = new TileStore(root.toString)
    // three declared dirty dirs, rows for two of them
    store.commit(-1L, 0L, relations = Map.empty, partial = Map("rel" -> TileStore.Partial(
      Seq((1L, 0), (2L, 1)).toDF("id", "pb"), Seq("pb"), Set("pb=0", "pb=1", "pb=2"))))
    val record = Files.readAllLines(root.resolve("commits.jsonl")).get(0)
    assert(record.contains(""""written_dirs": 2"""), record)
    assert(record.contains(""""carried_dirs": 0"""), record)
  }

  /** Two batches' relations: a full `cursors` and a partial `cells` whose
    * batch 2 rewrites pb=1 and carries pb=0. With `slow`, every `cells`
    * task sleeps first, so that write outlasts a failing sibling. */
  private def batch(n: Int, slow: Boolean = false) = {
    import spark.implicits._
    val cells = Seq((n * 10L, 1), (n * 10L + 1, n - 1)).toDF("id", "pb")
    Map("cursors" -> (Seq((n.toLong, n * 100L)).toDF("user_id", "last_id"), Option.empty[String])) ->
      Map("cells" -> TileStore.Partial(
        if (!slow) cells
        else cells.repartition(2).mapPartitions { it => Thread.sleep(1500); it }(
          org.apache.spark.sql.Encoders.row(cells.schema)),
        Seq("pb"), Set("pb=1", s"pb=${n - 1}")))
  }

  private def commitBatch(store: TileStore, n: Int): Long = {
    val (full, part) = batch(n)
    store.commit(n - 2L, n - 1L, full, part)
  }

  private def rows(store: TileStore, name: String): Set[String] =
    store.read(name).get.collect().map(_.toString).toSet

  test("commit: a failed relation write rethrows after its sibling finished, HEAD and record unchanged, retry commits") {
    import org.apache.spark.sql.functions.{assert_true, lit}
    val root = Paths.get(tempDir("tile-store-fail"))
    val store = new TileStore(root.toString)
    assert(commitBatch(store, 1) === 1L)
    val head = Files.readAllBytes(root.resolve("HEAD")).toSeq
    val record = Files.readAllBytes(root.resolve("commits.jsonl")).toSeq
    // batch 2's cursors write throws at once; its cells write is slow
    val (full, part) = batch(2, slow = true)
    val failing = full.map { case (n, (df, p)) => n -> (df.withColumn("ok", assert_true(lit(false))), p) }
    intercept[Exception](store.commit(0L, 1L, failing, part))
    assert(Files.exists(root.resolve("cells/v2/_SUCCESS")),
      "the commit returned before its other relation's write finished")
    assert(Files.readAllBytes(root.resolve("HEAD")).toSeq === head, "HEAD moved")
    assert(Files.readAllBytes(root.resolve("commits.jsonl")).toSeq === record, "the record was appended")
    assert(store.currentVersion === 1L && store.committedBatches === Seq((-1L, 0L)))
    // the retry overwrites the dangling v2 and commits what an uncrashed
    // store commits
    assert(commitBatch(store, 2) === 2L)
    val cleanRoot = Paths.get(tempDir("tile-store-clean"))
    val clean = new TileStore(cleanRoot.toString)
    commitBatch(clean, 1)
    commitBatch(clean, 2)
    Seq("cursors", "cells").foreach(r => assert(rows(store, r) === rows(clean, r), r))
    def lastRecord(r: Path) =
      Files.readAllLines(r.resolve("commits.jsonl")).toArray.last.toString.replaceAll(""""ts_ms": \d+""", "")
    assert(lastRecord(root) === lastRecord(cleanRoot))
  }

  test("commit: every job it submits runs under the caller's job group") {
    val store = new TileStore(tempDir("tile-store-group"))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tile-store-commit", "commit under test")
      commitBatch(store, 1)
      commitBatch(store, 2)
      // events arrive in order: once the marker job is seen, every job of
      // the commits before it has been seen too
      sc.setJobGroup("marker", "end of the commits")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val seen = groups.asScala.toSeq.takeWhile(_ != "marker")
      assert(seen.nonEmpty && groups.contains("marker"))
      assert(seen.forall(_ == "tile-store-commit"), seen.mkString(", "))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
