package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query's collected rows.
  *
  * Each row renders to a canonical string; the strings are sorted and
  * hashed, so partition order never matters. The canonical float form is
  * fixed once for every query ([[FloatForm]]): a float or double rounds to
  * 9 significant digits, and a magnitude below 1e-12 reads as 0, so the
  * last-bit noise of a different summation order never shows. Decimals
  * keep every digit; arrays keep their order; maps sort by key.
  */
object Digest {

  val FloatForm = "float:9-significant-digits;abs<1e-12=0"

  private val Mc = new MathContext(9)

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (math.abs(d) < 1e-12) "0"
    else new JBigDecimal(d).round(Mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rows(rs: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rs.map(canon).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    s"n=${rs.length}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }
}
