package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `run` groups the spans of one operation. */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span. */
final class SpanCounters {
  var jobs = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** executor run time (ms) of every task, per stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Worst max/median task-time ratio over the span's stages with at least
    * `minTasks` tasks (1.0 when no stage has that many). */
  def taskSkew(minTasks: Int = 4): Double = {
    val ratios = stageTaskMs.values.filter(_.size >= minTasks).map { ts =>
      val sorted = ts.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      sorted.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Attributes jobs, stages and tasks to the span that was open on the
  * submitting thread when they were submitted (the `Tracer.Key` local property
  * travels with every job, including broadcast jobs started from helper
  * threads). Events arrive on one listener thread. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[(Int, Int), Int]
  private val counters = mutable.Map.empty[Int, SpanCounters]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt)

  def of(span: Int): SpanCounters = synchronized(counters.getOrElseUpdate(span, new SpanCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(s => of(s).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(s => stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      s <- stageSpan.get((e.stageId, e.stageAttemptId))
      m <- Option(e.taskMetrics)
    } {
      val c = of(s)
      c.taskMs += m.executorRunTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }
}

/** Spans kept in memory, written out when the run ends. A root span
  * registers the listener and a closing root span removes it, so untimed
  * and untraced operations run without it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)] // (id, name, startNs)
  private var nextId = 1
  private val listener = new SpanListener
  private var run = ""

  def span[T](name: String, runId: String = run)(body: => T): T = {
    val id = nextId
    nextId += 1
    if (stack.isEmpty) {
      run = runId
      sc.addSparkListener(listener)
    }
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name, System.nanoTime()) :: stack
    sc.setLocalProperty(Tracer.Key, id.toString)
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, run, start, end)
      sc.setLocalProperty(Tracer.Key, stack.headOption.map(_._1.toString).orNull)
      if (stack.isEmpty) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    }
  }

  /** Counters of a closed span (complete once its root has closed). */
  def counters(span: Span): SpanCounters = listener.of(span.id)

  def children(span: Span): Seq[Span] = done.filter(_.parent == span.id).toSeq

  /** Duration minus the part of it covered by child spans. */
  def selfNs(span: Span): Long = {
    val ivs = children(span).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }

  /** Closed spans named `name`, in closing order. */
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.map(s => Json.line("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
