package graft.io

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dirty-partition writer shared by `TileStore.commit` and the index
  * service's label projections: its guard, its carry and its report. */
class TileStoreSpec extends AnyFunSuite {
  private implicit lazy val spark: SparkSession = graft.spark.Sessions.local(2, "tile-store-spec")

  private def nlink(leaf: Path): Int = {
    val f = leaf.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.getAttribute(f.toPath, "unix:nlink").asInstanceOf[Number].intValue
  }

  test("writePartial: a stray partition is refused, clean partitions carry as hardlinks") {
    import spark.implicits._
    val root = Files.createTempDirectory("tile-store-writer")
    try {
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
    } finally graft.stream.StreamDedup.deleteTree(root.toString)
  }

  test("commit: written_dirs counts the leaf dirs actually written, not the declared ones") {
    import spark.implicits._
    val root = Files.createTempDirectory("tile-store-commit")
    try {
      val store = new TileStore(root.toString)
      // three declared dirty dirs, rows for two of them
      store.commit(-1L, 0L, relations = Map.empty, partial = Map("rel" -> TileStore.Partial(
        Seq((1L, 0), (2L, 1)).toDF("id", "pb"), Seq("pb"), Set("pb=0", "pb=1", "pb=2"))))
      val record = Files.readAllLines(root.resolve("commits.jsonl")).get(0)
      assert(record.contains(""""written_dirs": 2"""), record)
      assert(record.contains(""""carried_dirs": 0"""), record)
    } finally graft.stream.StreamDedup.deleteTree(root.toString)
  }
}
