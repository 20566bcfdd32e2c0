package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical SHA-256 of a collected query result, computed the same way
  * by `pb/gate.py` over the DuckDB oracle's result.
  *
  * It follows the engine Runner's convention: columns sorted by name,
  * rows in the query's own ORDER BY, fields joined by U+0001, rows ended
  * by a newline, and `\u0000NULL` for a null. Values are rendered in a
  * typed form both languages produce exactly: integers in decimal,
  * doubles and floats as their IEEE bits in hex (-0.0 folded into 0.0),
  * decimals with trailing zeros stripped, timestamps as epoch micros,
  * dates as epoch days. A header line of `name:kind` pairs makes the
  * compare type-strict: an oracle returning a 128-bit integer or a
  * float32 where the engine returns a long or a double does not match.
  */
object Canonical {
  val Null = "\u0000NULL"

  def kind(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case DoubleType => "f64"
    case FloatType => "f32"
    case _: DecimalType => "dec"
    case StringType => "str"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "ts"
    case DateType => "date"
    case BinaryType => "bin"
    case ArrayType(e, _) => s"list<${kind(e)}>"
    case other => other.simpleString
  }

  def render(t: DataType, v: Any): String =
    if (v == null) Null
    else t match {
      case ByteType | ShortType | IntegerType | LongType => v.toString
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"
      case FloatType =>
        val f = v.asInstanceOf[Float]
        f"${java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)}%08x"
      case _: DecimalType =>
        val b = v match {
          case j: java.math.BigDecimal => j
          case s: scala.math.BigDecimal => s.bigDecimal
          case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        }
        if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
      case BooleanType => v.toString
      case TimestampType | TimestampNTZType => epochMicros(v).toString
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
        case d: java.time.LocalDate => d.toEpochDay.toString
      }
      case BinaryType => v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
      case ArrayType(e, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]].map(render(e, _)).mkString("[", ",", "]")
      case _ => v.toString
    }

  private def epochMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000).toLong)
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
  }

  /** (sha256 hex, row count) of `rows` under `schema`. */
  def hash(schema: StructType, rows: Array[Row]): (String, Int) = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val md = MessageDigest.getInstance("SHA-256")
    def line(s: String): Unit = {
      md.update(s.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    line(order.map(i => s"${schema.fields(i).name}:${kind(schema.fields(i).dataType)}")
      .mkString("\u0001"))
    rows.foreach { r =>
      line(order.map(i => render(schema.fields(i).dataType, r.get(i))).mkString("\u0001"))
    }
    (md.digest().map("%02x".format(_)).mkString, rows.length)
  }
}
