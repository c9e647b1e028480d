package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}

/** Canonical row hash of a query result, computed the same way as
  * `perfbench/tools/canon.py` does for DuckDB's answer: columns sorted by
  * name, each value encoded by type (floating point by its IEEE-754 bits,
  * timestamps as UTC epoch microseconds), rows sorted by their UTF-8
  * bytes, then SHA-256. Row order is not part of the hash.
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case i: Byte => s"i${i.toLong}"
    case i: Short => s"i${i.toLong}"
    case i: Int => s"i${i.toLong}"
    case i: Long => s"i$i"
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => dec(d)
    case d: scala.math.BigDecimal => dec(d.bigDecimal)
    case s: String => s"s${s.getBytes(UTF_8).length}:$s"
    case b: Array[Byte] => "b" + b.map(x => f"$x%02x").mkString
    case d: java.sql.Date => s"D${d.toLocalDate}"
    case d: java.time.LocalDate => s"D$d"
    case t: java.sql.Timestamp =>
      s"t${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant =>
      s"t${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "dnan"
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def dec(d: java.math.BigDecimal): String =
    "m" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)

  /** (row count, hash) of `df`'s collected rows. */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col): _*).collect()
    (rows.length.toLong, hashRows(rows.map(r => r.toSeq.map(value).mkString("|"))))
  }

  def hashRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.getBytes(UTF_8)).sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(a, b) < 0
    }.foreach { r => md.update(r); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
