package perfbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent table fingerprint: row count plus the sum (mod 2^64)
  * of a 64-bit hash of each row's canonical text. Columns are taken in
  * name order. Doubles are rounded to 30 significant bits first, so the
  * last-bit wobble of a floating sum whose order Spark does not fix cannot
  * change the print, while any real change in a value still does. */
object Fingerprint {

  final case class Print(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  def parse(s: String): Print = {
    val Array(r, h) = s.split(":")
    Print(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** One digest over a set of named prints, for committing per seed. */
  def digest(prints: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256").digest(
      prints.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    md.take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Fingerprint of already collected rows of `df`'s schema. */
  def ofRows(columns: Seq[String], rows: Array[Row]): Print = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r => sum += rowHash(order.map(i => r.get(i))) }
    Print(rows.length.toLong, sum)
  }

  /** Fingerprint computed in the executors; nothing is collected. */
  def of(df: DataFrame): Print = {
    val order = df.columns.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += rowHash(order.map(i => r.get(i))) }
      Iterator((n, s))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Print(n, h)
  }

  private def rowHash(values: Seq[Any]): Long = {
    val b = new StringBuilder
    values.foreach { v => canon(v, b); b += '\u0001' }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(b.toString.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  private[perfbench] def roundDouble(d: Double): Double =
    if (d.isNaN) Double.NaN
    else if (d == 0.0 || d.isInfinite) d + 0.0
    else {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      java.lang.Double.longBitsToDouble((bits + (1L << 21)) & ~((1L << 22) - 1))
    }

  private def canon(v: Any, b: StringBuilder): Unit = v match {
    case null => b ++= "\u0000"
    case d: Double => b ++= java.lang.Double.toString(roundDouble(d))
    case f: Float => b ++= java.lang.Double.toString(roundDouble(f.toDouble))
    case d: java.math.BigDecimal => b ++= d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => b ++= d.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] =>
      b ++= java.util.Base64.getEncoder.encodeToString(a)
    case r: Row =>
      b += '('; r.toSeq.foreach { x => canon(x, b); b += ',' }; b += ')'
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val kb = new StringBuilder; canon(k, kb); kb += '='; canon(x, kb); kb.toString }
      b += '{'; parts.sorted.foreach { p => b ++= p; b += ',' }; b += '}'
    case s: scala.collection.Seq[_] =>
      b += '['; s.foreach { x => canon(x, b); b += ',' }; b += ']'
    case other => b ++= other.toString
  }
}
