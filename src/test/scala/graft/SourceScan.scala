package graft

/** Source scans for the structure pins: which `.scala` files under a
  * root spell a token. */
object SourceScan {

  /** `path: token` for every `.scala` file under `root` containing a
    * token, and the number of files scanned. */
  def sourceHits(root: java.nio.file.Path,
                 tokens: Seq[String]): (List[String], Int) = {
    val sources = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val files = sources.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      (files.flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        tokens.filter(text.contains).map(t => s"${root.relativize(p)}: $t")
      }, files.size)
    } finally sources.close()
  }
}
