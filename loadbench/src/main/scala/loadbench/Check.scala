package loadbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive result digest: the row count plus the wrapping sum of a
  * 64-bit hash of each row's text values. Wire rows (text or binary
  * protocol) and in-process rows (rendered the way the server's text
  * protocol renders them) digest to the same value when they hold the same
  * multiset of rows. */
final case class Digest(rows: Long, sum: Long)

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def ofRow(values: Array[String]): Long = {
    // FNV-1a over the values with a separator and a NULL marker, then a
    // splitmix finaliser so the per-row sum does not cancel structurally
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < values.length) {
      val v = values(i)
      val bytes = if (v == null) Array[Byte](0, 'N'.toByte) else v.getBytes(UTF_8)
      var j = 0
      while (j < bytes.length) { h = (h ^ (bytes(j) & 0xFF)) * 0x100000001b3L; j += 1 }
      h = (h ^ 0x1F) * 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^ (h >>> 33)
  }

  def of(rows: Iterable[Array[String]]): Digest = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += ofRow(r) }
    Digest(n, s)
  }

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  /** The text-protocol spelling of an in-process value (UTC timestamps with
    * a microsecond fraction only when non-zero, plain decimals). */
  def text(v: Any): String = v match {
    case null => null
    case b: Boolean => if (b) "1" else "0"
    case b: Array[Byte] => new String(b, UTF_8)
    case t: java.sql.Timestamp =>
      val base = tsFmt.format(java.time.LocalDateTime.ofInstant(t.toInstant,
        java.time.ZoneOffset.UTC))
      val micros = t.getNanos / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  def textRow(r: Row): Array[String] =
    Array.tabulate(r.length)(i => if (r.isNullAt(i)) null else text(r.get(i)))
}
