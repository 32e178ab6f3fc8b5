package graft.stream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed aggregation == the equivalent batch aggregation. */
class WindowedEventsSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "window-spec")

  test("streamed tumbling-window counts equal the batch window aggregation") {
    implicit val s: SparkSession = spark
    val src = "/root/testdata/sf0.001"
    val batchDf = s.read.parquet(s"$src/events.parquet")
    val dir = tempDir("winsrc")
    batchDf.write.mode("overwrite").parquet(dir)

    val got = WindowedEvents.runOnce(dir, batchDf.schema, "win_test")
      .collect()
      .map(r => ((r.getTimestamp(0).getTime, r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val want = WindowedEvents.windowedCounts(batchDf)
      .collect()
      .map(r => ((r.getTimestamp(0).getTime, r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, (n, v)) =>
      assert(n === want(k)._1)
      assert(math.abs(v - want(k)._2) < 1e-6)
    }
  }
}
