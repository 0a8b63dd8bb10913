package perfbench

import java.io.File

/** Local-directory helpers for the benchmark's own work files. */
object Disk {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) :+ f else Seq(f)

  /** Bytes in the regular files under `path`. */
  def size(path: String): Long = walk(new File(path)).filter(_.isFile).map(_.length).sum

  /** Remove `path` and everything under it. */
  def delete(path: String): Unit = walk(new File(path)).foreach(_.delete())

  /** Newest modification time under `path`, epoch milliseconds. */
  def mtime(path: String): Long = walk(new File(path)).map(_.lastModified).max

  /** SHA-256 over the relative names and contents of the files under `path`. */
  def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = new File(path).toPath
    walk(new File(path)).filter(_.isFile).sortBy(_.getPath).foreach { f =>
      md.update(base.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
