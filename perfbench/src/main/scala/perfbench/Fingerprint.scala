package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result fingerprints, computed the same way over a
  * Spark result and over the DuckDB oracle's result (`fingerprints.py`).
  *
  * A row is canonicalized as `name=value` pairs in sorted column order; a
  * value by kind: integers in decimal, floating point by the bits of its
  * double value (a float widens exactly), decimals without trailing zeros,
  * timestamps as epoch microseconds, dates as epoch days, lists and
  * structs recursively, maps with sorted entries. The fingerprint is the
  * row count and the sum, mod 2^64, of the first 8 bytes of each
  * canonical row's SHA-256. */
object Fingerprint {

  final case class Print(rows: Long, hash: String)

  def of(schema: StructType, rows: Array[Row]): Print = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val s = order.map { case (n, i) => n + "=" + canon(r.get(i)) }.mkString("|")
      val d = md.digest(s.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Print(rows.length.toLong, f"$acc%016x")
  }

  /** Canonical form of one value (see the object doc). */
  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: BigInt => "i" + x
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant => "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.sql.Date => "D" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D" + x.toEpochDay
    case x: Array[Byte] => "x" + x.map(b => f"$b%02x").mkString
    case x: Row => x.toSeq.map(canon).mkString("(", ",", ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => canon(k) + ":" + canon(w) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("[", ",", "]")
    case x => "?" + x.toString
  }

  private def float(d: Double): String = {
    val z = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(z))
  }

  private def dec(x: java.math.BigDecimal): String =
    if (x.signum == 0) "d0" else "d" + x.stripTrailingZeros.toPlainString
}
