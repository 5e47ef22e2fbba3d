package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical form of a query result, computed the same way by
  * `perfbench/oracle.py` from DuckDB's rows, so the two sides compare by
  * hash:
  *  - columns are ordered by name, each with a type class (int, float,
  *    decimal, str, bool, date, ts, list, struct, map, bytes);
  *  - a float that holds an integer below 2^53 prints as that integer
  *    (the oracle gate's rule), any other float as its IEEE-754 bits;
  *  - a decimal prints without trailing zeros, a timestamp as epoch
  *    microseconds, NULL as `NULL`;
  *  - rows are sorted by their UTF-8 bytes and hashed with SHA-256. */
object Canon {

  final case class Result(rows: Long, hash: String, types: Map[String, String])

  def typeClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "float"
    case _: DecimalType => "decimal"
    case StringType => "str"
    case BooleanType => "bool"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "ts"
    case _: ArrayType => "list"
    case _: StructType => "struct"
    case _: MapType => "map"
    case BinaryType => "bytes"
    case other => other.simpleString
  }

  private def float(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 9007199254740992.0) d.toLong.toString
    else "f" + java.lang.Double.doubleToLongBits(d)

  /** A timestamp as microseconds since the epoch, naive ones read as UTC. */
  private def micros(t: java.time.Instant): String =
    "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)

  def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case b: java.math.BigDecimal =>
      val s = b.stripTrailingZeros()
      if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
    case b: Boolean => if (b) "true" else "false"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  def result(schema: StructType, rows: Array[Row]): Result = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val lines = rows.map(r => cols.map { case (_, i) => value(r.get(i)) }
      .mkString("\u0001").getBytes(UTF_8))
    java.util.Arrays.sort(lines, (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.map(_._1.name).mkString("\u0002").getBytes(UTF_8))
    lines.foreach { l => md.update(0.toByte); md.update(l) }
    Result(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString,
      cols.map { case (f, _) => f.name -> typeClass(f.dataType) }.toMap)
  }
}
