package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a gate's output: `"<rows>:<sha256>"`
  * over the rows rendered canonically and sorted.
  *
  * Columns are read in name order and rows are sorted as strings, so
  * neither partitioning nor column order changes it. Doubles are
  * rounded to 10 significant digits: a sum over partitions that arrive
  * in a different order may differ in its last bits between runs, and
  * must not read as a wrong answer. Nested arrays keep their order; map
  * entries are sorted.
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    val names = df.columns.sorted
    val rows = df.select(names.map(n => df.col(s"`$n`")): _*).collect()
    val lines = rows.map(r => render(r)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    s"${rows.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString
}
