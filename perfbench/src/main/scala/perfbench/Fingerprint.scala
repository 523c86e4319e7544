package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a result: its row count plus a
  * hash over canonical rows, canonicalised the way
  * `tools/selfcheck.py`'s `canon` does — columns sorted by name,
  * NULL and NaN as `NULL`, floats to 6 decimals, numeric array
  * elements to 5, timestamps as `yyyy-MM-dd HH:mm:ss[.ffffff]`, rows
  * sorted before hashing.
  */
object Fingerprint {

  final case class Print(rows: Long, hash: String)

  def of(columns: Seq[String], rows: Iterable[Row]): Print = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val canonRows = rows.iterator.map(r =>
      order.map(i => canon(r.get(i))).mkString("\u0001")).toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes(StandardCharsets.UTF_8))
    canonRows.foreach { s =>
      md.update("\u0002".getBytes(StandardCharsets.UTF_8))
      md.update(s.getBytes(StandardCharsets.UTF_8))
    }
    Print(canonRows.length.toLong,
      md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  private def timestamp(t: java.time.LocalDateTime): String = {
    val nanos = t.getNano
    val base = t.format(tsFormat)
    if (nanos == 0) base else base + f".${nanos / 1000}%06d"
  }

  private def fixed(v: Double, digits: Int): String =
    if (v.isNaN) "NULL" else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => fixed(d, 6)
    case f: Float => fixed(f.toDouble, 6)
    case b: Boolean => if (b) "True" else "False"
    case t: java.sql.Timestamp => canon(t.toInstant)
    case t: java.time.Instant =>
      timestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => timestamp(t)
    case d: java.sql.Date => d.toLocalDate.toString + " 00:00:00"
    case d: java.time.LocalDate => d.toString + " 00:00:00"
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(element).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def element(v: Any): String = v match {
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] =>
      fixed(n.doubleValue, 5)
    case other => canon(other)
  }
}
