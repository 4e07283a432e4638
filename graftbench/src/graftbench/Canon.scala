package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result fingerprint, canonicalized as the oracle
  * protocol does (FIXTURES.md §2): columns sorted by name, floats rounded
  * to 10 significant digits, NULL as `\N`, timestamps as UTC ISO-8601.
  * Rows become tab-separated lines, the lines are sorted, and the SHA-256
  * of the sorted lines is the fingerprint. */
object Canon {
  final case class Result(rows: Long, fingerprint: String)

  private val ten = new MathContext(10)

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(ten).stripTrailingZeros.toString

  /** Fingerprint of already-collected rows with the given column names. */
  def of(columns: Seq[String], rows: Iterator[Row]): Result = {
    val order = columns.indices.sortBy(i => columns(i).toLowerCase)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\t")).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    Result(lines.length.toLong, md.digest().map(x => f"${x & 0xff}%02x").mkString.take(16))
  }

  def of(df: DataFrame): Result = of(df.columns.toSeq, df.collect().iterator)
}
