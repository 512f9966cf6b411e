package graft.perfbench

import java.util.Locale

import org.apache.spark.sql.Row

/** Small statistics, digest and JSON helpers shared by the workloads. */
object Report {

  /** Linear-interpolated percentile (p in 0..100) of `xs`. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0d else xs.sum / xs.size

  /** Order-insensitive digest of a result: every row rendered to a
    * canonical string (floating values to 6 significant digits, so a
    * different summation order cannot flip it), the strings sorted, and
    * the sorted list hashed. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(10.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmtG(d)
    case f: Float => fmtG(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }

  private def fmtG(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0d) "0"
    else String.format(Locale.ROOT, "%.6g", Double.box(d))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}
