package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The reference's tiles/{z}/{x}/{y}.users + users/{id}/state.txt layout:
  * distributed write → distributed read round trip, reference-exact
  * idempotent add, engine-index integration. */
class UsersIndexFilesSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "usersindex-spec")

  test("index write → read round-trips; files match the reference layout") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val dir = tempDir("usersindex")
    val index = Seq(
      (14, 8374L, 5556L, Seq(3L, 7L, 9L)),
      (14, 8375L, 5556L, Seq(1L)),
      (13, 4187L, 2778L, Seq(2L, 5L))).toDF("z", "tx", "ty", "users")
    UsersIndexFiles.writeIndex(index, dir)

    assert(Files.exists(Paths.get(dir, "tiles", "14", "8374", "5556.users")))
    val lines = Files.readAllLines(Paths.get(dir, "tiles", "14", "8374", "5556.users"))
    assert(lines.toArray.toSeq === Seq("3", "7", "9"))

    val back = UsersIndexFiles.readIndex(s, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Set((14, 8374L, 5556L, 3L), (14, 8374L, 5556L, 7L), (14, 8374L, 5556L, 9L),
      (14, 8375L, 5556L, 1L), (13, 4187L, 2778L, 2L), (13, 4187L, 2778L, 5L))
    assert(back === want)
  }

  test("addUserTo is the reference's idempotent append (Worker.cs:298-324)") {
    val dir = tempDir("usersindex-add")
    val tiles = Seq((14, 10L, 20L), (14, 11L, 20L))
    UsersIndexFiles.addUserTo(dir, 5L, tiles)
    UsersIndexFiles.addUserTo(dir, 7L, tiles)
    val f = Paths.get(dir, "tiles", "14", "10", "20.users")
    val first = Files.readAllBytes(f).toSeq
    // re-adding an existing user leaves the file byte-identical
    UsersIndexFiles.addUserTo(dir, 5L, tiles)
    assert(Files.readAllBytes(f).toSeq === first)
    assert(Files.readAllLines(f).toArray.toSeq === Seq("5", "7"))
  }

  test("engine tile-users index + cursors export to the reference layout and read back") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val dir = tempDir("usersindex-engine")
    // engine-side index from raw raster output
    val visits = Seq(
      graft.model.Schemas.PixelVisit(3L, (5000L << 32) | 6000L, 1L),
      graft.model.Schemas.PixelVisit(4L, (5000L << 32) | 6000L, 2L),
      graft.model.Schemas.PixelVisit(3L, (9999L << 32) | 1L, 1L))
    val idx = graft.agg.HeatmapAgg.tileUsersIndex(s.createDataset(visits))
      .withColumn("z", org.apache.spark.sql.functions.lit(14))
    UsersIndexFiles.writeIndex(idx, dir)
    val back = UsersIndexFiles.readIndex(s, dir).collect()
      .map(r => ((r.getLong(1), r.getLong(2)), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(back === Map((5000L / 512, 6000L / 512) -> Seq(3L, 4L), (9999L / 512, 0L) -> Seq(3L)))

    val cursors = Seq((3L, 120L), (4L, 77L)).toDF("user_id", "last_id")
    UsersIndexFiles.writeUserCursors(cursors, dir)
    assert(new String(Files.readAllBytes(Paths.get(dir, "users", "3", "state.txt"))) === "120")
    val cback = UsersIndexFiles.readUserCursors(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cback === Map(3L -> 120L, 4L -> 77L))
  }
}
