package perfbench

import java.io.File

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Data files under `dir` (Spark's `.crc` and `_SUCCESS` markers excluded). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".crc") || f.getName.startsWith("_SUCCESS")) Nil
      else Seq(f)
    }

  def bytesUnder(dir: File): Long = dataFiles(dir).map(_.length()).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None
    else {
      val k = n - 11 // index with exactly ten samples above it
      Some((100.0 * (k + 1) / n, s(k)))
    }
  }

  def now(): Double = System.nanoTime() / 1e9
}

/** Minimal JSON writer for the result file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
}
