package graft.util

/** Local-filesystem helpers for JVM-local trees (queue replays, JSONL
  * round-trip exports, the segments a [[SegmentTable]] collects or a
  * [[Stage]] builder discards) — java.nio, not Hadoop. Everything the
  * chain persists, build-once artifacts included, commits through
  * [[SegmentTable]]. */
object Local {
  def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    // a concurrent prune can remove the tree between the exists check
    // and the walk (or mid-walk); the tree being already gone is
    // success for a delete-if-exists helper, so swallow that one shape
    try {
      if (java.nio.file.Files.exists(root)) {
        // the walk holds directory handles open until closed
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        finally walk.close()
      }
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
    }
  }
}
