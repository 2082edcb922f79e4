package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint, computed identically here (Spark
  * rows) and in `fingerprints.py` (DuckDB rows), so a committed DuckDB
  * fingerprint checks a Spark result without shipping the rows.
  *
  * Canonical form: columns sorted by name; each value rendered by type
  * (integers in decimal, floating point as the 16-hex-digit IEEE-754 bits of
  * the double with -0.0 folded into +0.0 and every NaN folded into one,
  * decimals without trailing zeros, dates ISO, timestamps as UTC epoch
  * microseconds, lists and structs recursively); each row hashed with
  * SHA-256; the row hashes sorted; the fingerprint is the SHA-256 of the
  * column header and the sorted row hashes. */
object Fingerprint {

  final case class Result(rows: Long, sha: String)

  def of(columns: Seq[String], rows: Iterable[Row]): Result = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    val rowHashes = rows.iterator.map { r =>
      sha256(md, order.map(i => value(r.get(i))).mkString("\u001f"))
    }.toArray
    java.util.Arrays.sort(rowHashes.asInstanceOf[Array[AnyRef]])
    Result(rowHashes.length.toLong,
      sha256(md, columns.sorted.mkString(",") + "\n" + rowHashes.mkString("\n")))
  }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case n: java.math.BigInteger => n.toString
    case d: java.math.BigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case s: String => escape(s)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => hex(b)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else {
      val h = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
      "0" * (16 - h.length) + h
    }

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\u001f", "\\x1f").replace("\n", "\\n")

  private val digits = "0123456789abcdef".toCharArray

  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = digits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = digits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** `digest` resets `md`, so one instance serves every row. */
  private def sha256(md: MessageDigest, s: String): String = hex(md.digest(s.getBytes(UTF_8)))
}
