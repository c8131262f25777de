package perfbench

import java.io.File

/** Small local-filesystem helpers for the benchmark's work directory. */
object Files {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.exists) Seq(f) else Nil

  /** Data and metadata files, without Hadoop's `.crc` side files. */
  def count(dir: File): Int = walk(dir).count(!_.getName.endsWith(".crc"))
  def bytes(dir: File): Long = walk(dir).filter(!_.getName.endsWith(".crc")).map(_.length).sum

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}
