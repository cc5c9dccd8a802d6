package perfbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-insensitive result digest: `<rows>:<hex>` where hex is the sum
  * (mod 2^64) of one 64-bit hash per row. Row order never matters, row
  * multiplicity does. Each row is hashed from a canonical text form that is
  * stable across runs: byte arrays print as hex, maps print with their
  * entries sorted, doubles print with all their digits. */
object Digest {

  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
