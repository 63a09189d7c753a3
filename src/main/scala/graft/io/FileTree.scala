package graft.io

/** Local directory-tree helpers shared by the lake cores, the ANN index
  * layouts and the scratch/checkpoint cleanups. */
object FileTree {

  /** Recursive delete; a missing path is a no-op. Callers that need
    * crash safety invalidate first (delete `_SUCCESS`), then call this. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Newest mtime anywhere in the tree — how long ago a writer last
    * touched it. */
  def newestMtime(f: java.io.File): Long = {
    val children = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    (f.lastModified() +: children.map(newestMtime)).max
  }
}
