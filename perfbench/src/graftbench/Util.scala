package graftbench

import java.io.File

/** Small helpers shared by the workloads: medians, JSON output, file
  * accounting under table roots. */
object Util {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Every regular file under `roots`, as path → size in bytes. */
  def filesUnder(roots: Seq[File]): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> f.length()
    roots.foreach(walk)
    out.result()
  }

  def bytesUnder(roots: Seq[File]): Long = filesUnder(roots).valuesIterator.sum

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** UTF-8 length of a string field in the fixed logical encoding the
    * storage-overhead denominator uses (see README: 8 bytes per
    * long/timestamp, 4 per int, 8 per decimal, UTF-8 bytes per string,
    * nothing for nulls or structure). */
  def utf8(s: String): Long = if (s == null) 0L else s.getBytes("UTF-8").length.toLong
}
