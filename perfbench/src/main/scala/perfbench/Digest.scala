package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive digest of a collected result: the row count plus
  * the wrapping sum of a 64-bit hash of each row's rendering. Every
  * column is rendered, so computing it forces the whole result.
  * Timestamps render in the JVM's default zone; the launcher pins UTC.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(r))
    f"${rows.length}%d:$sum%016x"
  }

  def rowHash(r: Row): Long = {
    val s = render(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) | (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    // map entry order is not part of a map's value
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}
