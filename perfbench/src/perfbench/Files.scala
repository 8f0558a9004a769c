package perfbench

import java.io.File

object Files {
  /** Bytes of the data files under `path`: hidden files (checksums)
    * and commit markers are not counted. */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(path.stripPrefix("file:")))
  }
}
