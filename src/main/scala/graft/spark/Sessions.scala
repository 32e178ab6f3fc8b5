package graft.spark

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's defaults (local mode; on a cluster the
  * same conf arrives via spark-submit). */
object Sessions {
  /** tmpfs shuffle scratch when available (local mode writes shuffle files
    * to disk otherwise; a real cluster has NVMe + network instead). */
  def scratchDir: Option[String] = {
    val d = new java.io.File("/dev/shm")
    if (d.isDirectory && d.canWrite) {
      val s = new java.io.File(d, "spark-local")
      s.mkdirs()
      Some(s.getAbsolutePath)
    } else None
  }

  /** Entries of Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`). Measured working set of the
    * service loop on a 2k-track store (seed 1, `local[4]` on 4 vCPUs): the
    * base build and full export compile 83 classes, the first window 28
    * more, and each later window 4–6 classes bound to its own literals
    * (67–113 ms of compile time); 155 in all after 8 windows and a one-shot
    * rebuild. The default of 100 is smaller than that, and Guava enforces
    * it per segment (4 segments of 25), so at the default a window evicted
    * and recompiled up to 24 of its own classes. 2000 holds the working set
    * plus the literal-bound classes of a few hundred windows; past that the
    * least recently used entries, those never reused, are evicted.
    * It is a static conf: it takes effect only when set before the session
    * exists, hence here and in `ServiceMain`'s builder. */
  val CodegenCacheEntries = 2000

  def local(cpus: Int = 32, app: String = "graft"): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
    val spark = scratchDir.fold(builder0)(d => builder0.config("spark.local.dir", d))
      // keep TypedImperativeAggregate partials in the hash path (the default
      // 128-key threshold would force a sort-based fallback for tile/pixel
      // grain keys); buffers are compact, so 4096 keys fit trivially
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
