package graft.sources

/** The techlog source's directory listing, for the benchmark's
  * per-layer probes (the listing itself is package-private).
  */
object BenchAccess {
  def listLogFiles(conf: Map[String, String]): Seq[(String, Long, Long)] =
    TechLogSource.listLogFiles(conf)
}
