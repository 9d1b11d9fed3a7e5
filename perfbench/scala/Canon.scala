package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, computed the same way
  * by `oracle.py` over DuckDB's answer: columns sorted by name, every
  * cell rendered in a type-neutral form (numbers by value, doubles by
  * their IEEE bits, times as epoch micros/days), one SHA-256 per row,
  * the sorted row hashes hashed again. Equal digests mean equal
  * multisets of rows, exactly (no float tolerance). */
object Canon {
  private val Exact = 9007199254740992.0 // 2^53

  private def num(d: Double): String =
    if (d.isNaN) "n:nan"
    else if (d == 0.0) "n:0"
    else if (d == math.rint(d) && math.abs(d) < Exact) "n:" + d.toLong
    else "n:x" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def cell(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "b:1" else "b:0"
    case n: Byte => "n:" + n
    case n: Short => "n:" + n
    case n: Int => "n:" + n
    case n: Long => "n:" + n
    case n: BigInt => "n:" + n
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: BigDecimal => num(d.toDouble)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      "t:" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case other => "?:" + other.toString
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** (row count, digest) of `rows` whose columns are named `cols`. */
  def digest(cols: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val hashes = rows.map(r =>
      sha(order.map(i => cell(r.get(i))).mkString("\u0001"))).sorted
    (rows.length.toLong,
      sha(order.map(cols(_)).mkString("cols:", ",", "\n") + hashes.mkString("\n"))
        .take(32))
  }
}
