package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** A query result as a row count plus an order-insensitive hash.
  *
  * Doubles are rounded to 9 significant digits and floats to 6, so a sum
  * whose last bits depend on task order still hashes the same; every
  * other value hashes exactly.
  */
object Pins {
  final case class Pin(rows: Long, hash: String)

  private val Mc9 = new MathContext(9)
  private val Mc6 = new MathContext(6)

  private def num(d: Double, mc: MathContext): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros().toPlainString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d, Mc9)
    case f: Float => num(f.toDouble, Mc6)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): Pin = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    Pin(rows.length.toLong, md.digest().take(12).map(x => f"$x%02x").mkString)
  }

  def of(df: DataFrame): Pin = {
    // columns in name order, as the oracle compares them
    val cols = df.columns.sorted
    of(df.select(cols.map(df.col): _*).collect())
  }
}
