package graft.util

import java.nio.file.{Files, Path}

/** Local-filesystem tree helpers for TEST/BENCH fixtures — the
  * streaming drains and bench queries that stage per-run working
  * copies of a seed index, and fixture teardown. One implementation of
  * the recursive traversal/close logic instead of a private copy per
  * call site.
  *
  * Local-fs only by design, and deliberately NOT part of any
  * production commit path: the index protocol ([[ManifestCommit]])
  * never renames or copies data paths.
  */
object FileTrees {

  /** Delete `p` recursively; missing paths are a no-op. */
  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.toVector.foreach(rmTree)
      } finally st.close()
    }
    Files.deleteIfExists(p); ()
  }

  def rmTree(p: String): Unit = rmTree(java.nio.file.Paths.get(p))

  /** Copy the tree under `src` into `dst` (created if absent). */
  def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val st = Files.list(src)
    try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector.foreach { p =>
        val t = dst.resolve(p.getFileName.toString)
        if (Files.isDirectory(p)) copyTree(p, t)
        else { Files.copy(p, t); () }
      }
    } finally st.close()
  }

  def copyTree(src: String, dst: String): Unit =
    copyTree(java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
}
