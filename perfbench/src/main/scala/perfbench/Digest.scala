package perfbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a collected result: every cell of every
  * column is hashed from a canonical form (doubles and floats by their
  * bits, instants in UTC), per-column and per-row hashes are summed, so
  * the digest does not depend on row order but does depend on every
  * value. */
object Digest {
  final case class Result(rows: Long, schema: String, digest: String)

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double =>
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float =>
      java.lang.Integer.toHexString(java.lang.Float.floatToIntBits(f))
    // instants by value: their toString prints in the JVM's time zone
    case t: java.sql.Timestamp => "ts" + t.toInstant.toString
    case t: java.time.Instant => "ts" + t.toString
    case d: java.sql.Date => "d" + d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case x => x.toString
  }

  private def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def of(schema: String, rows: Array[Row]): Result = {
    val width = if (rows.isEmpty) 0 else rows(0).length
    val cols = new Array[Long](width)
    var rowSum = 0L
    rows.foreach { r =>
      val cells = new Array[String](width)
      var i = 0
      while (i < width) {
        cells(i) = canon(r.get(i)); cols(i) += h64(cells(i)); i += 1
      }
      rowSum += h64(cells.mkString("\u0001"))
    }
    val all = (schema +: rows.length.toString +: rowSum.toString +:
      cols.toSeq.map(_.toString)).mkString("|")
    Result(rows.length, schema, f"${h64(all)}%016x")
  }
}
