package perfbench

import java.io.File

/** File-tree helpers for the benchmark's work directories. */
object Dirs {
  /** Every regular file under `root`, depth first. */
  def files(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def delete(root: File): Unit = {
    Option(root.listFiles()).toSeq.flatten.foreach(f => if (f.isDirectory) delete(f) else f.delete())
    root.delete()
  }

  def fresh(root: File): File = { delete(root); root.mkdirs(); root }
}
