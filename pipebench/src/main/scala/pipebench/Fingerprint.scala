package pipebench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: every row is rendered
  * canonically (doubles to 6 significant digits in the root locale, so
  * neither a re-associated floating-point sum nor the default locale flips
  * it), hashed to 64 bits, and the hashes are summed. Row order and partitioning therefore do not matter; a
  * changed, missing or extra row does. */
object Fingerprint {

  def canonical(v: Any): String = v match {
    case null                     => "∅"
    case d: Double                => fmtDouble(d)
    case f: Float                 => fmtDouble(f.toDouble)
    case b: Array[Byte]           => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                   => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case other                    => other.toString
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else "%.6g".formatLocal(java.util.Locale.ROOT, d)

  def rowHash(r: Row): Long = {
    val s = canonical(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x7a2d1b55).toLong & 0xffffffffL)
  }

  /** (row count, fingerprint as 16 hex digits). */
  def of(rows: Seq[Row]): (Long, String) =
    (rows.size.toLong, f"${rows.iterator.map(rowHash).sum}%016x")
}
