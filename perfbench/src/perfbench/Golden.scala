package perfbench

import java.nio.file.{Files, Path}

/** Known-good `rebuild` outputs: the tile count and fingerprint of the MVT
  * tree for a (seed, track count), kept beside the benchmark. */
final case class Golden(entries: Seq[(Long, Long, Fingerprint)]) {
  def lookup(seed: Long, tracks: Long): Option[Fingerprint] =
    entries.collectFirst { case (s, n, f) if s == seed && n == tracks => f }
}

object Golden {
  def load(path: Path): Golden =
    if (!Files.exists(path)) Golden(Seq.empty)
    else {
      import scala.jdk.CollectionConverters._
      val root = Json.mapper.readTree(path.toFile)
      Golden(root.get("rebuild").elements().asScala.map { e =>
        (e.get("seed").asLong, e.get("tracks").asLong,
          Fingerprint(e.get("tiles").asLong, e.get("fingerprint").asLong))
      }.toSeq)
    }
}
