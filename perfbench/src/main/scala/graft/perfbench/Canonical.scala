package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Engine-neutral result hash, mirrored value for value by `oracle.py`.
  *
  * Like `tools/check_oracle.py` it ignores column order and row order and
  * compares values exactly: columns are taken in name order, every value
  * gets a typed canonical spelling, each row is md5-hashed, and the sorted
  * row digests are hashed again. Numbers compare by value across types
  * (an integral double equals the same long, as `==` does in the checker);
  * other doubles compare by their IEEE bits; decimals compare as the
  * double they round to, as they do once the checker reads them into
  * pandas.
  */
object Canonical {

  def hash(df: DataFrame): String = hashRows(df.columns.toSeq, df.collect().iterator.map(_.toSeq))

  /** Hash of rows whose values line up with `names`. */
  def hashRows(names: Seq[String], rows: Iterator[Seq[Any]]): String = {
    val md = MessageDigest.getInstance("MD5")
    val order = names.indices.sortBy(names)
    val digests = rows.map(r => md5(md, order.map(i => value(r(i))).mkString("\u001f"))).toArray.sorted
    md5(md, order.map(names).mkString("\u001f") + "\n" + digests.mkString("\n"))
  }

  private def md5(md: MessageDigest, s: String): String = hex(md.digest(s.getBytes(UTF_8)))

  private def hex(bytes: Array[Byte]): String = {
    val out = new StringBuilder(bytes.length * 2)
    bytes.foreach { b => out.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16)) }
    out.toString
  }

  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.0e18) "i" + d.toLong
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + hex(b)
    case r: Row =>
      r.schema.fieldNames.toSeq.zip(r.toSeq).sortBy(_._1)
        .map { case (k, x) => k + "=" + value(x) }.mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }
}
