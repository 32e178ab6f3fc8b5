package graft.stream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming sessionization must converge to the batch
  * window-function oracle under multi-micro-batch slicing. */
class SessionizeSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark: SparkSession = graft.spark.Sessions.local(4, "session-spec")

  test("mapGroupsWithState sessions == batch lag-window sessions (3 micro-batches)") {
    implicit val s: SparkSession = spark
    val events = s.read.parquet("/root/testdata/sf0.001/events.parquet")
    // slice id-ordered (≈ ts-ordered) chunks into separate files
    val base = tempDir("sessionsrc")
    import org.apache.spark.sql.functions._
    (0 until 3).foreach { i =>
      events.where(col("event_id") % 3 === i) // deliberately interleaved slices
        .coalesce(1).write.parquet(s"$base/c$i")
    }
    val flat = s"$base/flat"
    new java.io.File(flat).mkdirs()
    (0 until 3).foreach { i =>
      new java.io.File(s"$base/c$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, j) =>
          java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(flat, s"p-$i-$j.parquet"))
        }
    }
    val got = Sessionize.runOnce(flat, events.schema, "sessions_test")
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("last_ts_us")))).toMap
    val want = Sessionize.sessionsBatch(events)
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("last_ts_us")))).toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet)
    // event counts and last timestamps always converge; session counts
    // converge when batch slices respect time order per user — the
    // interleaved slices above break that deliberately for events/ts, so
    // compare n_sessions on the time-ordered slicing below
    got.foreach { case (u, (n, last)) =>
      assert(n === want(u)._1, s"user $u n_events")
      assert(last === want(u)._2, s"user $u last_ts")
    }
  }

  test("time-ordered micro-batches: session counts converge exactly") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.functions._
    val events = s.read.parquet("/root/testdata/sf0.001/events.parquet")
    val base = tempDir("sessionsrc2")
    val flat = s"$base/flat"
    new java.io.File(flat).mkdirs()
    (0 until 3).foreach { i =>
      events.where(col("event_id") >= i * 334 && col("event_id") < (i + 1) * 334)
        .coalesce(1).write.parquet(s"$base/c$i")
      new java.io.File(s"$base/c$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, j) =>
          java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(flat, s"p-$i-$j.parquet"))
        }
    }
    val got = Sessionize.runOnce(flat, events.schema, "sessions_test2")
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_sessions")))).toMap
    val want = Sessionize.sessionsBatch(events)
      .collect().map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_sessions")))).toMap
    assert(got === want)
  }

  test("bounded-lateness policy: too-late events dropped WITH a count, in-window stragglers kept") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // drive the state function directly (the update logic is the policy)
    val gap = 100L; val lateness = 50L
    var state: Option[Sessionize.LateState] = None
    def feed(ts: Long*): Sessionize.UserSessionsLate = {
      val gs = new TestGroupState(state)
      val out = Sessionize.updateStateLate(gap, lateness)(
        1L, ts.map(Sessionize.EventIn(1L, _)).iterator, gs)
      state = gs.stored
      out
    }
    val a = feed(1000L, 1050L) // one session, watermark 1050-50=1000
    assert(a.n_sessions === 1L && a.n_events === 2L && a.n_late_dropped === 0L)
    val b = feed(1010L) // straggler INSIDE lateness window: kept (current session)
    assert(b.n_events === 3L && b.n_sessions === 1L && b.n_late_dropped === 0L)
    val c = feed(900L) // older than watermark: dropped, counted, state untouched
    assert(c.n_events === 3L && c.n_sessions === 1L && c.n_late_dropped === 1L)
    val d = feed(1300L) // gap > 100 past lastTs=1050: a new session opens
    assert(d.n_sessions === 2L && d.n_events === 4L && d.n_late_dropped === 1L)
  }
}

/** Minimal GroupState stub for driving mapGroupsWithState logic in-process. */
private class TestGroupState[S](initial: Option[S])
    extends org.apache.spark.sql.streaming.GroupState[S] {
  var stored: Option[S] = initial
  override def exists: Boolean = stored.isDefined
  override def get: S = stored.get
  override def getOption: Option[S] = stored
  override def update(newState: S): Unit = { stored = Some(newState) }
  override def remove(): Unit = { stored = None }
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
