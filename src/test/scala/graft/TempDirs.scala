package graft

import java.io.File

/** Temp source dirs for specs that build stamped artifacts: the dir and
  * every [[Artifact.path]] generation keyed by it are deleted when the
  * spec is done, so a run leaves nothing under the artifact root. */
object TempDirs {

  /** Runs `body` over a fresh temp dir, then [[delete]]s it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally delete(dir)
  }

  /** The artifact generations [[Artifact.path]] keyed by `srcDir`. */
  def artifactsOf(srcDir: String): Seq[File] = {
    val slug = "_" + srcDir.replaceAll("[^A-Za-z0-9.]", "_") + "_"
    Option(new File(Artifact.root).listFiles).toSeq.flatten.filter(_.getName.contains(slug))
  }

  /** Deletes `dir`, its artifact generations and their memo entries, and
    * drops the catalog memo for `dir`. */
  def delete(dir: String): Unit = {
    artifactsOf(dir).foreach { f =>
      Artifact.invalidate(f.getPath)
      org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
    Tables.invalidate(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
  }
}
