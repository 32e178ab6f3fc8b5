package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** One benchmark run in one Spark session:
  *
  *   Main --workload rebuild|trickle --seed N --seconds S --trace 0|1
  *        --work DIR --spans FILE --golden FILE [--scale full|mini]
  *
  * Prints a run record line, then (last) the result object. */
object Main {
  val DefaultSeed = 1L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, spans: Path, golden: Path, rebuildTracks: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = get("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    Args(workload, m.get("seed").map(_.toLong).getOrElse(DefaultSeed), get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("work")), Paths.get(get("spans")), Paths.get(get("golden")),
      m.getOrElse("scale", "full") match {
        case "full" => Workloads.RebuildTracks
        case "mini" => Workloads.MiniRebuildTracks
        case s => throw new IllegalArgumentException(s"unknown scale $s")
      })
  }

  /** The result object: every metric of `names` with its unit. A per-layer
    * metric the workload does not produce reads 0; a missing end-to-end
    * metric is a defect of the benchmark. */
  def resultLine(o: Outcome, names: Seq[(String, String)], perLayer: Boolean): String = {
    val values = names.map { case (n, u) =>
      (n, if (perLayer) o.metrics.getOrElse(n, 0.0)
          else o.metrics.getOrElse(n, throw new IllegalStateException(s"no value for $n")), u)
    }
    val finite = values.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val failed = if (finite) o.failed else o.attempted
    Json.line("correct" -> (failed == 0), "attempted" -> o.attempted, "failed" -> failed,
      "metrics" -> ListMap(values.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*))
  }

  def hostFacts(spark: SparkSession): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> spark.sparkContext.defaultParallelism,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark" -> spark.version,
    "java" -> System.getProperty("java.version"))

  def run(a: Args): Unit = {
    val t0 = System.nanoTime()
    implicit val spark: SparkSession =
      graft.spark.Sessions.local(Runtime.getRuntime.availableProcessors, s"perfbench-${a.workload}")
    try {
      val sessionS = Stats.secs(System.nanoTime() - t0)
      Files.createDirectories(a.work)
      val w = new Workloads(a.seed, a.seconds, a.trace, a.work, a.rebuildTracks, sessionS, Golden.load(a.golden))
      val o = try a.workload match {
        case "rebuild" => w.rebuild()
        case "trickle" => w.trickle()
      } finally w.close()
      if (a.trace) w.tracer.write(a.spans)
      o.errors.foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
      val facts = hostFacts(spark) ++ Seq("workload" -> a.workload, "seed" -> a.seed,
        "seconds" -> a.seconds, "trace" -> a.trace) ++ o.facts
      println("perfbench-run " + Json.line(facts: _*))
      println(resultLine(o, if (a.trace) Workloads.PerLayer else Workloads.EndToEnd, a.trace))
    } finally spark.stop()
  }

  /** Exits explicitly, so no lingering non-daemon thread can keep a failed
    * run alive. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }
}
