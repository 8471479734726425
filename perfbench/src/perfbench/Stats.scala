package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Summary statistics. Every percentile travels with its sample count. */
object Stats {

  final case class Pct(value: Double, n: Int)

  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    Pct(s(lo) + (s(hi) - s(lo)) * (pos - lo), s.size)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5).value

  /** Disjoint, sorted union of a set of [start, end) intervals. */
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = merge(iv).map(x => x._2 - x._1).sum
}

/** Output fingerprints: SHA-256 over a canonical text form. */
object Fingerprint {
  def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Cell text: doubles at 6 significant digits so summation order cannot
    * flip a fingerprint; arrays/structs recursively.
    */
  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + ":" + cell(kv._2)).sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case p: Product => p.productPrefix + p.productIterator.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Order-insensitive result hash: columns sorted by name, rows sorted. */
  def ofResult(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col): _*).collect().map(r => r.toSeq.map(cell).mkString("\u0001"))
    val sorted = rows.sorted
    (sha(Iterator(cols.mkString(",")) ++ sorted.iterator), rows.length.toLong)
  }
}

/** Minimal JSON writing (the run's outputs are flat maps of numbers/strings). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".format(c.toInt); case c => c.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + esc(s) + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Flat `"key": "value"` map reader for the committed golden files. */
  def readFlat(text: String): Map[String, String] =
    """"([^"]+)"\s*:\s*("([^"]*)"|-?[0-9.eE+-]+)""".r.findAllMatchIn(text).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
}
