package perfbench

import java.io.File

/** File helpers for the maintained tables. */
object Disk {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else if (f.exists()) f.length() else 0L

  /** Every regular file under `f`, with its size. */
  def filesUnder(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).map(_.flatMap(c => filesUnder(c)).toMap)
      .getOrElse(Map.empty)
    else if (f.exists()) Map(f.getPath -> f.length()) else Map.empty
}
